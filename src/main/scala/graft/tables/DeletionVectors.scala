package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Merge-on-read deletion vectors — the facility that makes row deletes
  * O(deleted rows) instead of O(touched files) at 100 TB (reference scope:
  * the Delta substrate under mrpowers-io/jodie; Delta ships the same
  * mechanism as `delta.enableDeletionVectors`).
  *
  * Mechanics: a DELETE on a DV-enabled table leaves the matched data files
  * byte-identical and instead records the DELETED ROW POSITIONS in a small
  * parquet sidecar under `_dv/<uuid>/` (columns `file: string` — the
  * log-recorded AddFile path — and `pos: long` — the parquet row index).
  * The commit re-adds each partially-affected file with a [[DvDescriptor]]
  * pointing at the sidecar (remove+add of the same path, Delta's shape);
  * fully-emptied files become plain removes. Readers subtract the positions
  * with a `left_anti` join on `(_metadata.file_path, _metadata.row_index)` —
  * the scan itself stays the stock vectorized parquet path, and files
  * without a DV pay nothing (they bypass the join entirely).
  *
  * Scale properties:
  *  - a DELETE of k rows writes O(k) position entries + one metadata commit,
  *    never rewrites data bytes — deleting 0.1% of a 100 TB table stops
  *    costing a multi-TB rewrite;
  *  - read overhead is confined to DV-carrying files and is one anti-join
  *    whose build side is the position set (AQE broadcasts it when small);
  *  - OPTIMIZE (compaction) PURGES: rewriting a DV-carrying file drops its
  *    deleted rows physically and clears the descriptor, so space and the
  *    join overhead are reclaimed incrementally;
  *  - positions are authoritative per (file → its own sidecar): a later
  *    delete writes the MERGED position set to a fresh sidecar, so one file
  *    never needs more than one sidecar read, and RESTORE to an older
  *    descriptor stays exact.
  */
object DeletionVectors {

  /** Table property enabling DV-based DELETE (Delta:
    * `delta.enableDeletionVectors`).
    */
  val Property = "graft.enableDeletionVectors"

  val DirName = "_dv"

  val PositionSchema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("pos", LongType, nullable = false)))

  def enabled(snap: Snapshot): Boolean =
    snap.metadata.properties.get(Property).exists(_.equalsIgnoreCase("true"))

  /** The deleted positions of `files` (each of which must carry a dv), as a
    * distributed `(file, pos)` frame. Each file's rows come only from its
    * OWN descriptor's sidecar — a semi-join on (file, sidecar) drops stale
    * entries another commit's sidecar may hold for the same path (e.g.
    * after RESTORE to an older descriptor).
    */
  def positionsDF(spark: SparkSession, tablePath: String, files: Seq[AddFile]): DataFrame = {
    val withDv = files.filter(_.dv.isDefined)
    require(withDv.nonEmpty, "positionsDF needs at least one dv-carrying file")
    val dirs = withDv.flatMap(_.dv).map(_.path).distinct
    val perDir = dirs.map { rel =>
      spark.read.schema(PositionSchema)
        .parquet(GraftTable.resolveDataPath(tablePath, rel).toString)
        .withColumn("__graft_dv_dir", lit(rel))
    }
    val all = perDir.reduce(_ unionByName _)
    import spark.implicits._
    val authoritative = withDv.map(f => (f.path, f.dv.get.path))
      .toDF("file", "__graft_dv_dir")
    all.join(broadcast(authoritative), Seq("file", "__graft_dv_dir"), "left_semi")
      .select(col("file"), col("pos"))
  }

  /** Pinned scan of `files` with row identity attached and existing DVs
    * APPLIED: output columns are the snapshot schema plus `__graft_file`
    * (the log-recorded path of the row's file) and `__graft_pos` (the row's
    * parquet row index). The row-identity columns ride the stock vectorized
    * scan as parquet `_metadata` fields; the log-path mapping is a broadcast
    * lookup over URI spellings with a loud guard (an unmatched file fails
    * the read rather than silently mis-attributing rows).
    *
    * `taskPerFile` gives every file (every split, for a file larger than
    * the split size) its own scan task, so a writer fed by this scan
    * writes one output file per input split — a rewrite that keeps each
    * file's rows, in order, in a file of their own (MERGE's copy write).
    */
  def scanWithPositions(table: GraftTable, snap: Snapshot, files: Seq[AddFile],
      taskPerFile: Boolean = false): DataFrame = {
    val spark = table.spark
    if (files.isEmpty) {
      val schema = StructType(snap.schema.fields ++ Seq(
        StructField("__graft_file", StringType), StructField("__graft_pos", LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    val relSession =
      if (taskPerFile) org.apache.spark.sql.graft.SparkBridge.onePartitionPerFile(spark)
      else spark
    val rel = graft.sources.GraftScanRewrite.nativeRelation(
      relSession, table.path, snap.copy(files = files))
    val cols = snap.schema.fieldNames.map(col).toIndexedSeq ++
      Seq(col("_metadata.file_path").as("__graft_uri"),
        col("_metadata.row_index").as("__graft_pos"))
    val scan = org.apache.spark.sql.graft.SparkBridge.ofRelation(spark, rel).select(cols: _*)
    import spark.implicits._
    val entries = files.flatMap { f =>
      uriVariants(table.path, f.path).map(u => (u, f.path))
    }.distinct
    // the spellings must be unique ACROSS files, not just per file: one
    // file's percent-encoded variant equaling another file's raw spelling
    // (pathological partition values like p=50%25 vs p=50%2525 sharing a
    // task base name) would make the join one-to-many — duplicating rows
    // and attributing positions to the wrong file. Refuse loudly; the
    // unmatched-file raise_error below cannot catch it (both rows match).
    val clash = entries.groupBy(_._1).collect {
      case (u, es) if es.map(_._2).distinct.size > 1 => u
    }
    require(clash.isEmpty,
      s"deletion-vector scan: URI spelling(s) ${clash.take(3).mkString(", ")} " +
        s"of ${table.path} are ambiguous between log files — rename the " +
        "colliding partition values (percent-encoding aliasing)")
    val lookup = entries.toDF("__graft_uri", "__graft_file_m")
    val mapped = scan.join(broadcast(lookup), Seq("__graft_uri"), "left")
      .withColumn("__graft_file",
        when(col("__graft_file_m").isNull,
          raise_error(concat(lit("deletion-vector scan: file not matched to a " +
            "log entry: "), col("__graft_uri"))))
          .otherwise(col("__graft_file_m")))
      .drop("__graft_uri", "__graft_file_m")
    val dvFiles = files.filter(_.dv.exists(_.cardinality > 0))
    if (dvFiles.isEmpty) mapped
    else {
      val pos = positionsDF(spark, table.path, dvFiles)
        .withColumnRenamed("file", "__graft_file")
        .withColumnRenamed("pos", "__graft_pos")
      mapped.join(pos, Seq("__graft_file", "__graft_pos"), "left_anti")
    }
  }

  /** The live rows of dv-carrying `files`, schema columns only — the read
    * path's masked leg (clean files take the plain scan; see
    * [[GraftTable.dfForFiles]]).
    */
  def maskedRows(table: GraftTable, snap: Snapshot, files: Seq[AddFile]): DataFrame =
    scanWithPositions(table, snap, files)
      .select(snap.schema.fieldNames.map(col).toIndexedSeq: _*)

  /** Persist a `(file, pos)` position set as a fresh sidecar directory;
    * returns the table-relative sidecar path for [[DvDescriptor.path]].
    * Distributed write, coalesced — position sets are tiny next to the data
    * they mask, and a shard per shuffle task would litter the dir.
    */
  def write(spark: SparkSession, tablePath: String, positions: DataFrame): String = {
    val rel = s"$DirName/${java.util.UUID.randomUUID()}"
    val abs = Fs.child(tablePath, rel)
    positions.select(col("file").cast(StringType), col("pos").cast(LongType))
      .coalesce(8).write.parquet(abs)
    rel
  }

  /** URI spellings under which a scan's `_metadata.file_path` may render the
    * log path `rel` — Hadoop `Path` form plus its percent-encoded variant
    * (partition directory names can carry encoded characters).
    */
  private def uriVariants(tablePath: String, rel: String): Seq[String] = {
    val abs = GraftTable.resolveDataPath(tablePath, rel)
    val hp = Fs.toHadoopPath(abs)
    Seq(
      hp.toString,
      hp.toUri.toString,
      abs).distinct
  }
}
