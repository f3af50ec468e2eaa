package graft.tables

/** Commit-log actions for the versioned Parquet table substrate ("GraftTable").
  *
  * Mirrors the action vocabulary the reference library consumes from Delta's
  * transaction log (reference: mrpowers-io/jodie, e.g.
  * `DeltaHelpers.scala:9,129` AddFile, `ChangeDataFeedHelper.scala:6` AddCDCFile /
  * Metadata / CommitInfo, `OperationMetricHelper.scala:78-86` per-file `add.stats`
  * JSON), re-designed from scratch for plain Spark 4 + Parquet.
  *
  * Log layout: `<table>/_graft_log/<%020d>.json`, one JSON document per line,
  * each line an object with exactly one of the keys
  * `metadata | protocol | txn | add | remove | cdc | commitInfo`.
  *
  * Scale note: the log holds *metadata only* (O(files) per commit, no data).
  * Snapshot reconstruction is a fold over log files — on the driver, or on
  * executors past the driver-file limit; a checkpoint (the materialized
  * snapshot, every N commits) bounds replay cost — see [[GraftLog.snapshot]]
  * and [[DistributedSnapshot]].
  */
sealed trait Action

/** Table-level metadata. `schemaJson` is the Spark `StructType.json`.
  * Properties of interest: `graft.enableChangeDataFeed` ("true"/"false").
  */
case class Metadata(
    schemaJson: String,
    partitionColumns: Seq[String] = Nil,
    properties: Map[String, String] = Map.empty
) extends Action

/** A data file added to the table.
  *
  * `stats` is an embedded JSON string with schema
  * `{numRecords: Long, minValues: {col: str}, maxValues: {col: str},
  *   nullCount: {col: long}}` — same shape the reference parses from Delta
  * (`OperationMetricHelper.scala:78-82`), so log-analytics can
  * `from_json(col("add.stats"), ...)` identically.
  *
  * `dv` (absent on most files) attaches a deletion vector: rows at the
  * positions recorded in the referenced sidecar are logically deleted and
  * every read must filter them (merge-on-read — see [[DeletionVectors]]).
  * A DV-updating commit re-adds the SAME data path with a new descriptor
  * (plus a RemoveFile of it, Delta's remove+add shape), so snapshot replay
  * replaces the entry in place.
  */
case class AddFile(
    path: String,
    partitionValues: Map[String, String] = Map.empty,
    size: Long = 0L,
    stats: String = "",
    dv: Option[DvDescriptor] = None
) extends Action

/** Deletion-vector reference carried by an [[AddFile]]: `path` is the
  * table-relative (absolute for shallow-clone externals) parquet DIRECTORY
  * holding `(file: string, pos: long)` deleted-row positions for the files
  * re-added by one commit; `cardinality` is how many of THIS file's rows it
  * marks deleted (physical numRecords − cardinality = live rows).
  */
case class DvDescriptor(path: String, cardinality: Long)

/** A data file logically removed at this version (the file stays on disk
  * for time travel / CDF until a vacuum past its retention deletes it).
  */
case class RemoveFile(path: String) extends Action

/** A change-data file (rows + `_change_type` column) under `_change_data/`. */
/** `size` is 0 in logs written before it was recorded (Jackson defaults the
  * missing field); consumers treating it as a budget hint must tolerate 0.
  */
case class AddCDCFile(path: String, size: Long = 0L) extends Action

/** Idempotence watermark for an external writer application (Delta's `txn`
  * vocabulary: appId + a monotonically increasing version). A streaming
  * query commits each epoch with `SetTransaction(queryId, epochId)`; on a
  * replayed micro-batch it finds `snapshot.transactions(queryId) >= epochId`
  * and skips — exactly-once append without a coordinator (see
  * [[graft.streaming.GraftSink]]).
  */
case class SetTransaction(appId: String, version: Long) extends Action

/** Commit provenance. `operation` names what committed: a data write
  * (WRITE, STREAMING UPDATE, COPY INTO, MERGE, DELETE, UPDATE, RESTORE,
  * REPARTITION, FSCK, COMPUTE STATS, CREATE OR REPLACE TABLE [AS SELECT]),
  * a layout-only OPTIMIZE, DDL (SET/UNSET TBLPROPERTIES, ADD/DROP/RENAME
  * COLUMN(S), ALTER COLUMN TYPE, ADD/DROP CONSTRAINT, ...) or a version-0
  * creator (CREATE TABLE, CONVERT, CLONE); `operationParameters` may carry a
  * `predicate` string;
  * `operationMetrics` uses Delta's metric key names (numTargetRowsInserted,
  * numOutputRows, ...) so the metric helpers match the reference
  * (`delta/OperationMetric.scala:4-43`).
  */
case class CommitInfo(
    timestamp: Long,
    operation: String,
    operationParameters: Map[String, String] = Map.empty,
    operationMetrics: Map[String, String] = Map.empty
) extends Action

/** Reader/writer feature gate — Delta's table-features protocol in
  * simplified form. A reader that does not IMPLEMENT every feature in
  * `readerFeatures` would silently return wrong data (a build without
  * deletion-vector support would resurrect deleted rows; one without column
  * mapping would read renamed columns as missing), so snapshot load fails
  * loudly instead. A writer missing a `writerFeatures` entry could corrupt
  * invariants it does not know exist (identity ranges, CHECK constraints),
  * so commits are gated the same way. Features upgrade automatically when a
  * commit first enables the corresponding table property; a table never
  * downgrades.
  */
case class Protocol(
    minReaderVersion: Int = 1,
    minWriterVersion: Int = 1,
    readerFeatures: Seq[String] = Nil,
    writerFeatures: Seq[String] = Nil
) extends Action

/** Parsed form of [[AddFile.stats]]. Bloom indexing (absent unless the table
  * opts in via `graft.bloom.columns`): `bloomSidecar` names the
  * `_bloom/<id>/` parquet sidecar holding this file's per-column filters
  * (written distributed at commit time — the log itself stays O(bytes) per
  * file regardless of filter width); `bloom` is the LEGACY inline form
  * (column → base64 words), still honored by probes.
  */
case class FileStats(
    numRecords: Long,
    minValues: Map[String, String] = Map.empty,
    maxValues: Map[String, String] = Map.empty,
    nullCount: Map[String, Long] = Map.empty,
    bloom: Map[String, String] = Map.empty,
    bloomSidecar: Option[String] = None,
    /** False when min/max may be loose BOUNDS rather than exact extremes —
      * stamped on stats harvested from FOREIGN parquet (CONVERT TO GRAFT,
      * COMPUTE STATS backfill), whose writer may have truncated string
      * stats (`parquet.statistics.truncate.length`) with no footer marker.
      * Loose bounds keep file skipping correct (the band only widens) but
      * must never be ANSWERED from (metadata-only string min/max bails to
      * a scan). graft-written files are always tight — graft harvests its
      * own untruncated footers. Delta's `tightBounds` field, same meaning.
      */
    tightBounds: Boolean = true
)

/** Materialized table state at `version`: last metadata + surviving files +
  * the latest [[SetTransaction]] watermark per external writer appId.
  */
case class Snapshot(
    version: Long,
    metadata: Metadata,
    files: Seq[AddFile],
    transactions: Map[String, Long] = Map.empty,
    protocol: Protocol = Protocol()
) {
  def schema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType
      .fromJson(metadata.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
  def numFiles: Long = files.size.toLong
  def sizeInBytes: Long = files.map(_.size).sum
  def cdfEnabled: Boolean =
    metadata.properties
      .get(GraftLog.CdfProperty)
      .exists(_.equalsIgnoreCase("true"))

  /** The state after applying one commit's `actions` on top of this
    * snapshot — the same last-wins per-version fold rule `GraftLog`'s
    * snapshot replay applies (adds keyed by path, removes delete,
    * metadata/protocol/SetTransaction last-wins). Incremental consumers
    * walking a version range (the CDF readers need the pre/post states of
    * every remove-carrying commit) advance in O(commit actions) instead
    * of re-folding the whole log per version — a complete-mode sink's
    * range holds hundreds of overwrites, and two full O(versions) folds
    * per overwrite is quadratic exactly where the batched reader exists
    * to be linear.
    */
  def advance(next: Long, actions: Seq[Action]): Snapshot = {
    var meta = metadata
    var proto = protocol
    var txns = transactions
    val fs = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    files.foreach(f => fs(f.path) = f)
    actions.foreach {
      case m: Metadata       => meta = m
      case p: Protocol       => proto = p
      case a: AddFile        => fs(a.path) = a
      case r: RemoveFile     => fs.remove(r.path); ()
      case t: SetTransaction => txns += (t.appId -> t.version)
      case _                 => ()
    }
    Snapshot(next, meta, fs.values.toSeq, txns, proto)
  }
}
