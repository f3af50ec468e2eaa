package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.tables.{AddFile, DistributedSnapshot, FileSkipping, GraftLog, GraftTable, SegmentHead}

/** Dataset-backed [[FileIndex]] for tables whose LIVE FILE SET is too large
  * to hold on the driver — the read-path complement of
  * [[graft.tables.DistributedSnapshot]].
  *
  * The default index ([[GraftFileIndex]]) walks a driver-resident
  * `Seq[AddFile]` per `listFiles` — the right call below
  * `spark.graft.snapshot.driverFileLimit` (default 100k files), where the
  * walk is microseconds. At 10⁶–10⁷ files (a 100 TB table) that Seq is
  * 0.5–5 GB of driver heap and O(files) driver CPU per QUERY. Here the
  * file inventory stays a Dataset over the checkpoint parquet + log deltas
  * ([[DistributedSnapshot.addFilesDF]] — checkpoint rows never shuffle),
  * and `listFiles` evaluates BOTH prunings on executors:
  *
  *  - partition filters EXACTLY (`Predicate.create` over partition values,
  *    bound by name — Spark removes pushed partition filters from the
  *    post-scan Filter, so exactness is a correctness requirement, same
  *    contract as [[GraftFileIndex.listFiles]]);
  *  - data filters conservatively via per-file stats
  *    ([[FileSkipping.mightMatch]] with the resolved conjuncts shipped in
  *    the task closure — the same semantics as the driver path, minus
  *    bloom probes, which stay a driver-path feature).
  *
  * The driver then collects ONLY the survivors — O(matching files), never
  * O(live files). A point query on a 10⁷-file table plans from a handful
  * of collected entries (Delta's `Snapshot.allFiles`-as-Dataset posture).
  *
  * ALWAYS version-pinned. Two reasons: (a) the deletion-vector invariant —
  * the builder ([[graft.tables.GraftTable.lazyReadDF]]) splits dv-carrying
  * files onto the masked leg at ONE version, and a log-following clean leg
  * could drift to a version whose new DVs it would silently drop; (b) each
  * new query re-resolves the version anyway (the scan rewrite runs per
  * query), so only an explicitly cached DataFrame pins — the same
  * snapshot-at-DataFrame-creation semantics Delta gives. `refresh()` is
  * therefore a no-op, like a pinned [[GraftFileIndex]].
  */
class LazyFileIndex(
    @transient private val spark: SparkSession,
    @transient private[sources] val log: GraftLog,
    override val partitionSchema: StructType,
    private[sources] val segHead: SegmentHead)
  extends FileIndex {

  val tablePath: String = log.tablePath
  val version: Long = segHead.snapshot.version
  private val sessionTz = spark.sessionState.conf.sessionLocalTimeZone
  private val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
  private val tableSchema = segHead.snapshot.schema
  private val partCols = segHead.snapshot.metadata.partitionColumns.toSet

  override def rootPaths: Seq[Path] = Seq(graft.tables.Fs.toHadoopPath(tablePath))

  override def refresh(): Unit = () // version-pinned by design (see class doc)

  /** One agg job, cached per (table, version) ACROSS index instances —
    * the scan rewrite builds a fresh index per query, so an instance-local
    * cache would re-run the stats job on every planned query that consults
    * relation stats (every JoinSelection / AQE pass). Planning consults
    * sizeInBytes for join-strategy decisions; a table on this index is far
    * past every broadcast threshold anyway, so a cached exact sum is plenty.
    */
  override lazy val sizeInBytes: Long =
    LazyFileIndex.cachedSize(tablePath, version, () => {
      val r = filesDS().agg(org.apache.spark.sql.functions.sum("size")).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    })

  /** O(live files) STRINGS on the driver — only the `df.inputFiles`
    * API pays it, on demand; planning never calls this.
    */
  override def inputFiles: Array[String] =
    filesDS().select("path").as(org.apache.spark.sql.Encoders.STRING)
      .collect()
      .map(p => graft.tables.Fs.toUriString(GraftTable.resolveDataPath(tablePath, p)))

  private def filesDS(): org.apache.spark.sql.Dataset[AddFile] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[AddFile]
    DistributedSnapshot.addFilesDF(spark, log, segHead).as[AddFile]
  }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // provably-empty range intersection: zero files, no job at all (the
    // same short-circuit as the driver path's filesMatching)
    if (FileSkipping.contradictory(dataFilters, tableSchema))
      return Nil
    // bind partition filters on the DRIVER (loud on an unmatched attribute,
    // same invariant as GraftFileIndex.partitionPredicate); the executor
    // side only instantiates the predicate
    val boundPart: Option[Expression] =
      LazyFileIndex.bindPartitionFilters(partitionFilters, partitionSchema, caseSensitive)

    val pSchema = partitionSchema
    val tz = sessionTz
    implicit val enc = org.apache.spark.sql.Encoders.product[AddFile]
    // two fused filter stages: the SHARED stats-skipping filter (one
    // definition with the prunedFiles family), then the exact partition
    // predicate + dv exclusion this index adds on top
    val survivors: Array[AddFile] = DistributedSnapshot
      .filterByStats(filesDS(), dataFilters, tableSchema, partCols)
      .mapPartitions { it =>
        val partPred = boundPart.map { e =>
          val p = Predicate.create(e); p.initialize(0); p
        }
        it.filter { f =>
          // dv-carrying files belong to the builder's masked leg (split out
          // at this same pinned version) — never to the plain scan
          !f.dv.exists(_.cardinality > 0) &&
            partPred.forall(_.eval(LazyFileIndex.partitionRow(f, pSchema, tz)))
        }
      }.collect()

    survivors.groupBy(_.partitionValues).iterator.map { case (_, files) =>
      PartitionDirectory(
        LazyFileIndex.partitionRow(files.head, partitionSchema, sessionTz),
        files.map(fileStatus))
    }.toSeq
  }

  private def fileStatus(f: AddFile): FileStatus =
    new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L,
      graft.tables.Fs.toHadoopPath(GraftTable.resolveDataPath(tablePath, f.path)))
}

object LazyFileIndex {

  /** (table, version) → total live bytes — see [[LazyFileIndex.sizeInBytes]].
    * Content at a committed version is immutable, so entries never go
    * stale; cleared wholesale at a size bound.
    */
  private val sizeCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long), java.lang.Long]()

  private[sources] def cachedSize(path: String, version: Long, compute: () => Long): Long = {
    val key = (path, version)
    val memo = sizeCache.get(key)
    if (memo != null) return memo.longValue()
    val v = compute()
    if (sizeCache.size > 1024) sizeCache.clear()
    sizeCache.put(key, java.lang.Long.valueOf(v))
    v
  }

  /** Partition filters bound by NAME to partition-schema ordinals, reduced
    * under And — THE binding rule of both file indexes (the driver index
    * evaluates it immediately, this one ships it to executors). Loud on an
    * unmatched attribute: pushed partition filters reference only
    * partition columns (FileSourceStrategy invariant), so a miss is a bug,
    * and a conservative answer would be a wrong-results prune.
    */
  private[sources] def bindPartitionFilters(
      filters: Seq[Expression],
      partitionSchema: StructType,
      caseSensitive: Boolean): Option[Expression] =
    if (filters.isEmpty) None
    else {
      def bind(e: Expression): Expression = e.transform {
        case a: AttributeReference =>
          val i = partitionSchema.fields.indexWhere(f =>
            if (caseSensitive) f.name == a.name else f.name.equalsIgnoreCase(a.name))
          if (i < 0) throw new IllegalStateException(
            s"partition filter references non-partition column ${a.name}")
          BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
      }
      Some(filters.map(bind).reduce(
        org.apache.spark.sql.catalyst.expressions.And(_, _)))
    }

  /** Typed InternalRow of one file's partition values — the same
    * interpretation as [[GraftFileIndex.partitionRow]] (physical-name
    * keys, `__HIVE_DEFAULT_PARTITION__` → null, strings cast as partition
    * inference would), runnable on EXECUTORS.
    */
  private[sources] def partitionRow(
      f: AddFile, partitionSchema: StructType, sessionTz: String): InternalRow =
    InternalRow.fromSeq(partitionSchema.fields.toSeq.map { field =>
      f.partitionValues.get(graft.tables.ColumnMapping.physicalName(field)) match {
        case None | Some(graft.tables.TableWriter.HiveDefaultPartition) => null
        case Some(raw) =>
          Cast(Literal(raw), field.dataType, Option(sessionTz)).eval(InternalRow.empty)
      }
    })
}
