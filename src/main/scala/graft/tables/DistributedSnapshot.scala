package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Snapshot replay and file pruning with the log parsed by EXECUTORS, for
  * tables whose live file set is too large to JSON-parse on the driver.
  *
  * [[GraftLog.snapshot]] folds the whole log (checkpoint + deltas) on the
  * driver — the right call at commit cadence, where the log is
  * metadata-sized relative to the data. But a 100 TB table is ~10^6 live
  * files: its checkpoint alone is a GB of JSON, and a driver that parses a
  * GB per plan is the bottleneck of every query. Here the same fold runs as
  * a Spark job instead:
  *
  *  - the checkpoint parses in parallel tasks (JSON-lines are SPLITTABLE;
  *    a parquet checkpoint dir natively so, and column-prunable) with an
  *    explicit action schema — no inference pass — and its rows NEVER
  *    shuffle: only the post-checkpoint delta actions (O(commits since
  *    checkpoint)) go through the last-action-per-path window, and the
  *    checkpoint inventory is reconciled with one anti-join against the
  *    small touched-path set (broadcast by AQE) — the distributed
  *    equivalent of the driver fold's LinkedHashMap overwrite semantics
  *    at shuffle cost O(delta), not O(live files);
  *  - [[prunedFiles]] then evaluates the SAME per-file skipping predicate
  *    ([[FileSkipping.mightMatch]], shipped to executors with the resolved
  *    conjuncts) before anything is collected — the driver receives only
  *    the files a scan of `condition` actually needs, O(matching), never
  *    O(live files).
  *
  * Driver-side work stays metadata-bounded: one listing of the log
  * ([[GraftLog.segment]]) and the segment's head pass
  * ([[GraftLog.replayHead]] — head lines only, never a data-file line),
  * whose checkpoint-format decision the executor fold reads.
  */
object DistributedSnapshot {

  private val dvType = StructType(Seq(
    StructField("path", StringType),
    StructField("cardinality", LongType)))

  /** Flat AddFile shape of a parquet checkpoint part — declared on the read
    * so an EMPTY checkpoint dir (live file set empty at a cadence
    * checkpoint, e.g. after a delete-all) folds to an empty frame instead
    * of dying in parquet schema inference.
    */
  private val checkpointPartSchema = StructType(Seq(
    StructField("path", StringType),
    StructField("partitionValues", MapType(StringType, StringType)),
    StructField("size", LongType),
    StructField("stats", StringType),
    StructField("dv", dvType)))

  /** Schema of the add/remove payloads — declared, not inferred, so the
    * read plans in one pass and unknown action keys (metadata, commitInfo,
    * cdc, txn) simply surface as all-null rows to filter. */
  private[tables] val lineSchema = StructType(Seq(
    StructField("add", StructType(Seq(
      StructField("path", StringType),
      StructField("partitionValues", MapType(StringType, StringType)),
      StructField("size", LongType),
      StructField("stats", StringType),
      StructField("dv", dvType)))),
    StructField("remove", StructType(Seq(
      StructField("path", StringType))))))

  /** This path deliberately BYPASSES the [[LogStore]] seam: executors read
    * log objects as splittable files through Spark's own readers — any
    * local path or hadoop-FS URI qualifies (the [[graft.tables.Fs]] path
    * strings [[GraftLog.versionFile]] produces address both). Only stores
    * whose objects are not files at all (the in-memory test stores) must
    * use the driver fold instead — fail loudly rather than return an
    * empty/false file set.
    */
  private def requireFilesystemLog(log: GraftLog): Unit =
    require(log.store.filesystemBacked,
      s"DistributedSnapshot requires a file-addressable log store for " +
        s"${log.tablePath}: executors read log objects directly — use " +
        "GraftLog.snapshot (driver fold) on this store")

  /** The live [[AddFile]] set at `version` (default latest) as a DataFrame,
    * log parsed and folded by executors. Columns: path, partitionValues,
    * size, stats, dv — exactly [[AddFile]]'s shape (`.as[AddFile]` works). */
  def addFilesDF(spark: SparkSession, tablePath: String,
      version: Long = -1L): DataFrame = {
    val log = new GraftLog(tablePath)
    addFilesDF(spark, log, log.replayHead(log.segment(version)))
  }

  /** [[addFilesDF]] over a segment whose head pass already ran — the head
    * carries the reader-feature gate and the checkpoint-format decision, so
    * nothing here lists or probes the log again.
    */
  private[graft] def addFilesDF(spark: SparkSession, log: GraftLog,
      head: SegmentHead): DataFrame = {
    requireFilesystemLog(log)
    val seg = head.segment
    val deltaFiles = seg.commits.map { case (v, _) => log.versionFile(v) }

    def jsonFrame(sources: Seq[String]) =
      spark.read.schema(lineSchema).json(sources: _*)
        .withColumn("__v",
          regexp_extract(input_file_name(), "(\\d+)(?:\\.checkpoint)?\\.json$", 1)
            .cast("long"))

    // fold the DELTAS alone — newest action per path wins, matching the
    // driver fold's overwrite semantics. Within ONE version a path can
    // carry BOTH a remove and a re-add (the deletion-vector remove+add
    // shape) — the commit line order puts re-adds after removes
    // (TableWriter: `... ++ removes ++ cdc ++ extraActions`), so the add
    // is the in-version winner: tie-break adds first. A net-removal never
    // co-exists with an add of the same path in one commit. The window
    // shuffle covers only O(actions since checkpoint) rows — the
    // 10⁶-file checkpoint inventory must NEVER pass through a shuffle to
    // answer "what is live".
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__path"))
      .orderBy(col("__v").desc, col("add").isNotNull.desc)
    def foldLastWins(df: DataFrame): DataFrame = df
      .filter(col("add").isNotNull || col("remove").isNotNull)
      .withColumn("__path", coalesce(col("add.path"), col("remove.path")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)

    // the checkpoint frame, flat AddFile columns, from the ONE source the
    // head pass chose (paths are unique within a checkpoint by
    // construction: no dedup, no shuffle). The parquet dir is
    // column-prunable, so a projection of (path, size) never deserializes
    // stats bytes.
    val ckptFlat: Option[DataFrame] = seg.checkpointVersion.map { cv =>
      head.parquetCheckpoint match {
        case Some(pdir) =>
          spark.read.schema(checkpointPartSchema).parquet(pdir).select(
            col("path"),
            // absent map (a part written with no partition entries) must
            // surface as the driver fold's Map.empty, not null
            coalesce(col("partitionValues"),
              map().cast(MapType(StringType, StringType))).as("partitionValues"),
            col("size"),
            col("stats"),
            col("dv"))
        case None =>
          jsonFrame(Seq(log.checkpointFile(cv)))
            .filter(col("add").isNotNull).select("add.*")
      }
    }

    (ckptFlat, deltaFiles) match {
      case (Some(c), Nil) => c
      case (None, ds) => foldLastWins(jsonFrame(ds))
        .filter(col("add").isNotNull).select("add.*")
      case (Some(c), ds) =>
        // checkpoint rows pass through un-shuffled; any path the deltas
        // touched (re-added, removed, or dv-rewritten) is overridden via
        // an anti-join on the O(delta) touched set (AQE broadcasts it),
        // then the deltas' surviving adds append
        val deltaLast = foldLastWins(jsonFrame(ds))
        val touched = deltaLast.select(col("__path").as("path")).distinct()
        c.join(touched, Seq("path"), "left_anti")
          .unionByName(deltaLast.filter(col("add").isNotNull).select("add.*"))
    }
  }

  /** [[addFilesDF]] collected as typed actions (driver holds O(live files);
    * prefer [[prunedFiles]] when a predicate is in hand). */
  def addFiles(spark: SparkSession, tablePath: String,
      version: Long = -1L): Seq[AddFile] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[AddFile]
    addFilesDF(spark, tablePath, version).as[AddFile].collect().toSeq
  }

  /** Live files that MIGHT satisfy `condition` at `version`, with the
    * min/max + partition + contradiction skipping logic evaluated on
    * EXECUTORS — the driver collects only survivors. Semantics match
    * `FileSkipping.filesMatching(snapshot, classified.all, None)` (bloom
    * probes stay a driver-path feature: sidecar loads are lazy per-file
    * reads that would fan out badly from executor tasks). */
  def prunedFiles(spark: SparkSession, tablePath: String, condition: String,
      version: Long = -1L): Seq[AddFile] = {
    val log = new GraftLog(tablePath)
    requireFilesystemLog(log)
    val head = log.replayHead(log.segment(version))
    val schema = head.snapshot.schema

    val emptyDf = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val classified = FileSkipping.classify(spark, emptyDf, condition)
    require(classified.unresolvedColumns.isEmpty,
      s"condition references unknown columns: ${classified.unresolvedColumns.mkString(", ")}")
    prunedFilesByExprs(spark, log, head, classified.all)
  }

  /** Write the checkpoint sidecar for `version` (default latest) with the
    * file actions rendered by EXECUTORS — the distributed complement of
    * [[GraftLog.writeCheckpoint]], whose driver fold + serialization is
    * O(live files) memory and CPU. Here:
    *
    *  - the live file set comes from [[addFilesDF]] (executor log fold);
    *  - each [[AddFile]] renders to its log line via `mapPartitions` over
    *    [[GraftLog.renderAction]] — byte-identical to the driver writer —
    *    and lands as text parts in a scratch dir;
    *  - the driver then assembles `<v>.checkpoint.json` by STREAM-COPYING
    *    part bytes after the metadata + txn head lines (bounded memory, no
    *    parse), and publishes it with an atomic rename.
    *
    * The resulting sidecar is format-identical to the driver writer's, so
    * every existing reader (driver snapshot fold, [[addFilesDF]], vacuum,
    * CDF) works unchanged. */
  def writeCheckpoint(spark: SparkSession, tablePath: String,
      version: Long = -1L): Unit = {
    val log = new GraftLog(tablePath)
    requireFilesystemLog(log)
    val segHead = log.replayHead(log.segment(version))
    val snap = segHead.snapshot
    val target = snap.version
    val head = (Seq[Action](snap.metadata, snap.protocol) ++
      snap.transactions.toSeq.sortBy(_._1).map { case (a, v) => SetTransaction(a, v) })
      .map(GraftLog.renderAction).mkString("", "\n", "\n")
    val parquetFmt = GraftLog.declaresParquetCheckpoints(snap.metadata)

    implicit val strEnc = org.apache.spark.sql.Encoders.STRING
    implicit val addEnc = org.apache.spark.sql.Encoders.product[AddFile]
    val scratch = Fs.createTempDir(log.logDir, s".ckpt$target")
    val partsDir = Fs.child(scratch, "parts")
    try {
      if (parquetFmt) {
        // parquet format: executors write the columnar parts directly
        // (multi-part by shuffle partitioning — the object-store-friendly
        // shape); the dir publishes with one atomic rename, THEN the O(1)
        // JSON head lands, so the checkpoint is never visible before its
        // file actions are. An existing dir is KEPT — same first-writer-
        // wins rule (and reader-visibility argument) as
        // [[CheckpointParquet.write]]: content at a version is
        // deterministic, and delete-then-replace would expose a
        // missing-file-actions window to concurrent readers
        val pdir = log.checkpointParquetDir(target)
        if (!Fs.exists(pdir)) {
          addFilesDF(spark, log, segHead).as[AddFile].toDF()
            .write.parquet(partsDir)
          Fs.deleteIfExists(Fs.child(partsDir, "_SUCCESS"))
          try Fs.moveNoReplace(partsDir, pdir)
          catch {
            case _: java.nio.file.FileAlreadyExistsException => ()
          }
        }
        log.store.overwrite(log.checkpointFile(target),
          head.getBytes(StandardCharsets.UTF_8))
      } else {
        addFilesDF(spark, log, segHead).as[AddFile]
          .mapPartitions(_.map(a => GraftLog.renderAction(a: Action)))
          .write.text(partsDir)

        // assemble head + part bytes in the scratch dir, then publish with
        // one atomic replace through the log store
        val tmp = Fs.child(scratch, s".ckpt$target.json.tmp")
        val out =
          if (Fs.isRemote(tmp))
            Fs.toHadoopPath(tmp).getFileSystem(Fs.hadoopConf)
              .create(Fs.toHadoopPath(tmp), true)
          else Files.newOutputStream(java.nio.file.Paths.get(tmp))
        try {
          out.write(head.getBytes(StandardCharsets.UTF_8))
          Fs.listChildNames(partsDir)
            .filter(_.startsWith("part-")).sorted
            .foreach { n =>
              val part = Fs.child(partsDir, n)
              if (Fs.isRemote(part)) {
                val in = Fs.toHadoopPath(part).getFileSystem(Fs.hadoopConf)
                  .open(Fs.toHadoopPath(part))
                try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 64 * 1024, false)
                finally in.close()
              } else
                Files.copy(java.nio.file.Paths.get(part), out)
            }
        } finally out.close()
        Fs.moveReplace(tmp, log.checkpointFile(target))
      }
    } finally {
      if (Fs.exists(scratch)) Fs.deleteRecursively(scratch)
    }
  }

  /** [[prunedFiles]] with the conjuncts ALREADY resolved and the head in
    * hand — the DML planning shape (delete/update/replaceWhere classify
    * against the table's own frame first). Same executor-side skipping,
    * same conservative semantics, driver collects only candidates; bloom
    * probes stay a driver-path feature (per-file sidecar loads fan out
    * badly from tasks — min/max + partition pruning carry the lazy path).
    */
  private[graft] def prunedFilesByExprs(
      spark: SparkSession,
      log: GraftLog,
      head: SegmentHead,
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[AddFile] = {
    val snap = head.snapshot
    // provably-empty range intersection: zero files, no job at all (same
    // short-circuit as the driver path's filesMatching)
    if (FileSkipping.contradictory(preds, snap.schema)) return Nil
    implicit val enc = org.apache.spark.sql.Encoders.product[AddFile]
    filterByStats(addFilesDF(spark, log, head).as[AddFile],
      preds, snap.schema, snap.metadata.partitionColumns.toSet).collect().toSeq
  }

  /** THE executor-side stats-skipping filter — one definition shared by
    * [[prunedFiles]], [[prunedFilesByExprs]] and
    * [[graft.sources.LazyFileIndex.listFiles]], so a semantics change to
    * skipping applies to every Dataset-backed consumer at once. Same
    * conservative `mightMatch` the driver path evaluates; bloom probes
    * stay driver-path-only.
    */
  private[graft] def filterByStats(
      files: Dataset[AddFile],
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      schema: StructType,
      partCols: Set[String]): Dataset[AddFile] =
    if (preds.isEmpty) files
    else files.filter { (f: AddFile) =>
      val stats = GraftLog.parseStats(f.stats)
      preds.forall(p =>
        FileSkipping.mightMatch(p, f, stats, schema, partCols, None))
    }

  /** Conservative MINIMUM bytes one rendered `{"add":...}` log line can
    * occupy — the byte pre-gate divisor for [[exceedsFileLimit]]. Real
    * lines (path + size + stats JSON) run 200–1000 bytes; 64 makes the
    * pre-gate strictly safe: a log under `limit * 64` bytes CANNOT hold
    * `limit` add lines.
    */
  private val MinAddLineBytes = 64L

  /** Memo for [[exceedsFileLimit]]: the live file count at a COMMITTED
    * version never changes (a later checkpoint changes the computation's
    * cost, not its answer), so the verdict is a pure function of
    * (table, version, limit). Without this, a mid-size table whose JSON
    * checkpoint exceeds the byte pre-gate but whose count stays under the
    * limit re-reads its whole checkpoint on EVERY plan/DML — hundreds of
    * ms of log IO per statement. Cleared wholesale at a size bound (no
    * LRU bookkeeping; re-deriving a verdict is cheap relative to
    * tracking recency).
    */
  private val limitVerdicts =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Boolean]()

  /** Whether the live file set at the head's target exceeds `limit` files —
    * WITHOUT a snapshot fold, from the segment's sizes and the head pass's
    * format decision. Three tiers, cheapest first:
    *
    *  1. byte pre-gate: if checkpoint + post-checkpoint delta bytes total
    *     under `limit * MinAddLineBytes`, the answer is NO from the dir
    *     listing alone (small tables — the overwhelmingly common case —
    *     pay nothing beyond the listing their segment already made);
    *  2. parquet checkpoint: live count from part FOOTERS (row counts are
    *     footer metadata — O(parts) opens, zero data read);
    *  3. JSON checkpoint / deltas: prefix-count `{"add"` lines with EARLY
    *     EXIT at `limit + 1` — no JSON parse, bounded read.
    *
    * The count is an UPPER bound (delta adds may re-add checkpointed paths
    * or be net-removed) — over-estimating only moves a borderline table
    * onto the Dataset-backed path, which stays correct.
    */
  private[graft] def exceedsFileLimit(log: GraftLog, head: SegmentHead, limit: Long): Boolean = {
    if (!log.store.filesystemBacked) return false // lazy path needs executor-readable logs
    val key = (log.tablePath, head.segment.version, limit)
    val memo = limitVerdicts.get(key) // boxed: null = miss (a bare Boolean would unbox null to false)
    if (memo != null) return memo.booleanValue()
    val verdict = computeExceedsFileLimit(log, head, limit)
    if (limitVerdicts.size > 4096) limitVerdicts.clear()
    limitVerdicts.put(key, java.lang.Boolean.valueOf(verdict))
    verdict
  }

  private def computeExceedsFileLimit(log: GraftLog, head: SegmentHead, limit: Long): Boolean = {
    val seg = head.segment
    val deltaBytes = seg.commitBytes
    // saturating gate: limit * MinAddLineBytes overflows for sentinel
    // limits (Long.MaxValue disables the lazy path), and a negative gate
    // would silently skip the pre-gate and line-scan every read
    val byteGate =
      if (limit > Long.MaxValue / MinAddLineBytes) Long.MaxValue
      else limit * MinAddLineBytes

    var count = 0L
    def countAdds(path: String): Unit =
      if (count <= limit) Fs.scanLines(path) { lines =>
        while (count <= limit && lines.hasNext) {
          if (lines.next().startsWith("{\"add\"")) count += 1
        }
      }
    (head.parquetCheckpoint, seg.checkpoint) match {
      case (Some(pdir), _) =>
        // tier 2: exact live count at the checkpoint from part FOOTERS
        // (O(parts) opens, zero data read; no byte pre-gate here — parquet
        // compresses paths too well for a safe bytes-per-row divisor, and
        // a parquet checkpoint already marks the large-table configuration)
        count += parquetRowCount(pdir)
      case (None, Some((cv, headBytes))) =>
        // tier 1 pre-gate, then tier 3: prefix-count `{"add"` lines with
        // early exit — no JSON parse, bounded read
        if (headBytes + deltaBytes < byteGate) return false
        countAdds(log.checkpointFile(cv))
      case (None, None) =>
        if (deltaBytes < byteGate) return false
    }
    if (count > limit) return true
    // remaining deltas cannot push past the limit → done without reading them
    if (count + deltaBytes / MinAddLineBytes <= limit) return false
    seg.commits.foreach { case (v, _) => countAdds(log.versionFile(v)) }
    count > limit
  }

  /** Total row count of a parquet dir from part footers alone. */
  private def parquetRowCount(dir: String): Long =
    Fs.listChildNames(dir).filter(n => n.startsWith("part-") && n.endsWith(".parquet"))
      .map { n =>
        val p = Fs.toHadoopPath(Fs.child(dir, n))
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, Fs.hadoopConf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRecordCount finally r.close()
      }.sum
}
