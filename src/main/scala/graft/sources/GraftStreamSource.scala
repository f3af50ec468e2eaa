package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.log.ChangeFeedPlanner
import graft.tables.{AddCDCFile, AddFile, GraftLog, GraftTable}

/** Streaming SOURCE over a GraftTable: `spark.readStream.format("graft")
  * .load(path)` — the change-data analogue of Delta's streaming source.
  *
  * Offsets are committed table VERSIONS (a `LongOffset` per commit), so the
  * offset log lines up 1:1 with the table's own history: exactly-once replay
  * is inherited from the commit log's immutability — a micro-batch for
  * versions (start, end] always reproduces the same rows, and checkpoint
  * recovery resumes from a version boundary.
  *
  * Batch contents (schema = table schema + `_change_type` + `_commit_version`):
  *  - the INITIAL batch (no `startingVersion` option) is the full snapshot at
  *    the first observed version, as `insert` rows — Delta's default
  *    "current snapshot, then changes" contract;
  *  - with `option("startingVersion", v)` the initial batch replays changes
  *    from version v (inclusive) instead, with no snapshot;
  *  - each subsequent batch holds the change rows of its commits exactly as
  *    the batch change feed reads them — one [[graft.log.ChangeFeedPlanner]]
  *    decides for both: change files when a commit wrote them, the added
  *    files as `insert` rows for plain appends, synthesized delete+insert
  *    rows for a CDF-on whole-file replace, nothing for layout-only
  *    rewrites (OPTIMIZE, REPARTITION) — minus what the stream's options
  *    skip, and a LOUD error for a row-removing commit without change data
  *    (the stream cannot represent it — enable CDF).
  *
  * Scale: a batch reads only the files of its own versions (no table scan
  * after the initial snapshot), in at most one change-file scan, one
  * append scan and one scan per metadata regime of its replaces however
  * many versions it spans; the snapshot batch itself plans as the native
  * pinned-file-index parquet scan.
  *
  * Admission control: `option("maxVersionsPerTrigger", n)` (default 100)
  * bounds how many commits one micro-batch may span;
  * `option("maxBytesPerTrigger", b)` and `option("maxFilesPerTrigger", f)`
  * additionally stop offering versions once the batch's admitted
  * data/change file bytes or counts (from commit-log metadata — no
  * filesystem probing) exceed the budget; at least one version is always
  * admitted so the stream cannot stall on a single large commit.
  * Together they are the analogue of Delta's `maxFilesPerTrigger` /
  * `maxBytesPerTrigger`: a stream recovering from downtime drains its
  * backlog in bounded micro-batches instead of one unbounded batch (the
  * batch's work and its log reads are linear in the versions it spans, so
  * the bound is what keeps a 10k-commit gap processable).
  * Exactly-once is unaffected: offsets are still plain versions and a
  * bounded range replays deterministically. The FIRST offer of a source
  * instance is exempt — the snapshot batch is one pinned-version table scan
  * (a single distributed parquet read, not a per-version union), and after a
  * checkpoint restart the committed offset is not visible to `getOffset`, so
  * a budgeted first offer could regress below it and re-emit delivered
  * versions. Note the bounds also pace
  * `Trigger.Once`/`AvailableNow` runs: such a run advances at most one
  * batch's worth per invocation.
  */
class GraftStreamSource(
    sqlContext: SQLContext,
    tablePath: String,
    startingVersion: Option[Long],
    maxVersionsPerTrigger: Long = GraftStreamSource.DefaultMaxVersionsPerTrigger,
    maxBytesPerTrigger: Option[Long] = None,
    metadataPath: Option[String] = None,
    maxFilesPerTrigger: Option[Long] = None,
    ignoreDeletes: Boolean = false,
    skipChangeCommits: Boolean = false,
    dropChangeColumns: Boolean = false)
  extends Source with SupportsTriggerAvailableNow {

  require(maxVersionsPerTrigger > 0,
    s"maxVersionsPerTrigger must be positive, got $maxVersionsPerTrigger")
  require(maxBytesPerTrigger.forall(_ > 0),
    s"maxBytesPerTrigger must be positive, got ${maxBytesPerTrigger.get}")
  require(maxFilesPerTrigger.forall(_ > 0),
    s"maxFilesPerTrigger must be positive, got ${maxFilesPerTrigger.get}")

  private val spark = sqlContext.sparkSession
  private val log = new GraftLog(tablePath)
  private def table = GraftTable.forPath(spark, tablePath)

  /** With `dropChangeColumns` (the `readStream.table` shape — rows only,
    * like Delta's default streaming read) the source schema is the TABLE
    * schema; [[getBatch]]'s final projection then drops the change columns
    * automatically, since it selects exactly `schema`'s fields.
    */
  override val schema: StructType =
    if (dropChangeColumns) table.schemaOnly // metadata head — no file fold at stream start
    else GraftStreamSource.schemaOf(spark, tablePath)

  /** Highest version this source has already offered (or seen committed via
    * `getBatch` during checkpoint recovery) — the base the per-trigger
    * version budget counts from. `None` until the first offer.
    *
    * Restart hazard: after a restart whose LAST batch was committed, Spark
    * calls `getOffset` before any `getBatch`, so this instance cannot see
    * the committed offset — and a budget counted from `startingVersion`
    * could then offer a version BELOW it, walking the stream backwards and
    * re-emitting delivered versions. The source therefore persists its own
    * high-watermark (max version ever offered, which is always ≥ the
    * committed offset) in the checkpoint's source-metadata directory and
    * seeds `lastOffered` from it: restarts stay budgeted without ever
    * regressing, and a genuinely fresh start (no marker) keeps the bounded
    * first batch. An unreadable marker (torn write) degrades to offering
    * head — unbudgeted but safe.
    */
  private val initialMarker: GraftStreamSource.Marker =
    GraftStreamSource.readWatermark(spark, metadataPath)

  @volatile private var lastOffered: Option[Long] = initialMarker match {
    case GraftStreamSource.MarkerAt(v) => Some(v)
    case _ => None
  }

  /** Head version pinned by [[prepareForTriggerAvailableNow]]: an
    * AvailableNow run must drain the backlog AS OF run start and then
    * terminate — commits landing mid-run wait for the next run. `-1` marks
    * "prepared on a not-yet-created table" (offer nothing, terminate).
    */
  @volatile private var availableNowCap: Option[Long] = None

  /** Trigger.AvailableNow contract (v1 sources need the interface
    * explicitly — Spark 4's generic wrapper fallback is off by default):
    * pin the drain target at run start. The admission-control overloads
    * below route back through the same self-paced offer logic as
    * [[getOffset]], so `maxVersionsPerTrigger`/`maxBytesPerTrigger`/
    * `maxFilesPerTrigger` bound each micro-batch of the catch-up run
    * exactly as they bound a live stream.
    */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(if (log.tableExists) log.latestVersion() else -1L)

  /** Self-paced: the per-trigger budgets above are this source's read
    * limit; Spark's generic limit vocabulary can't express them.
    */
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission-controlled offer (this path REPLACES `getOffset` calls once
    * the interface is implemented — both delegate to [[offer]]). The start
    * offset is ignored: the source tracks its own durable high-watermark,
    * which also survives restarts (see [[lastOffered]]).
    */
  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 =
    offer().orNull

  override def reportLatestOffset(): OffsetV2 =
    if (log.tableExists) LongOffset(log.latestVersion()) else null

  override def getOffset: Option[Offset] = offer()

  private def offer(): Option[LongOffset] = {
    // ONE log-directory listing per trigger: tableExists/latestVersion/
    // admitThrough each re-listed before — 4+ LIST round-trips per
    // micro-batch, which on an object store is the dominant per-trigger
    // metadata cost (guide §6); a single point-in-time view is also
    // strictly more consistent under concurrent commits
    val vs = log.versions()
    if (vs.isEmpty || availableNowCap.contains(-1L)) None
    else {
      val head = availableNowCap.fold(vs.last)(math.min(_, vs.last))
      val offered = lastOffered match {
        case Some(base) => admitThrough(base, head, vs)
        // a corrupt (torn-write) marker means this IS a restart but the
        // watermark is unknown — only an unbudgeted head offer cannot regress
        case None if initialMarker == GraftStreamSource.MarkerCorrupt => head
        case None => startingVersion match {
          // first replay batch: budget counts from just before startingVersion
          case Some(sv) => admitThrough(sv - 1, head, vs)
          // snapshot batch: pinned at the current head — one table scan
          case None => head
        }
      }
      advanceWatermark(offered)
      Some(LongOffset(offered))
    }
  }

  /** Raise `lastOffered` to `v` and persist the marker BEFORE the offer is
    * returned (so the durable watermark always leads Spark's offset log —
    * the no-regression invariant the restart path relies on). Monotonic:
    * replayed batches below the watermark leave it untouched.
    */
  private def advanceWatermark(v: Long): Unit = {
    if (!lastOffered.exists(_ >= v)) {
      lastOffered = Some(v)
      GraftStreamSource.writeWatermark(spark, metadataPath, v)
    }
  }

  /** Highest version to offer after `base`, honoring both trigger budgets:
    * at most `maxVersionsPerTrigger` versions, and (when set) stop once
    * admitted data + change-file bytes exceed `maxBytesPerTrigger` — sizes
    * come from the commit log's AddFile/AddCDCFile metadata, no filesystem
    * probing (change files logged before sizes were recorded count as 0, so
    * delete-heavy backlogs of such logs fall back to the version bound).
    * The FIRST pending version is always admitted, so one oversized commit
    * can never stall the stream.
    */
  private def admitThrough(base: Long, head: Long, vs: Seq[Long]): Long = {
    // the watermark resuming BELOW the earliest surviving version means the
    // log was cleaned past this stream's checkpoint — fail with the cause
    // (the versions to admit no longer exist; silently skipping them would
    // drop committed changes from the stream)
    val earliest = vs.headOption.getOrElse(Long.MinValue)
    if (base + 1 < earliest && base < head)
      throw new IllegalStateException(
        s"stream needs version ${base + 1} of $tablePath but the earliest surviving " +
          s"log version is $earliest — the commit log was cleaned past this stream's " +
          "checkpoint (graft.logRetentionDuration); restart the stream from a fresh " +
          "checkpoint or lengthen the log retention")
    val versionCapped = math.min(head, base + maxVersionsPerTrigger)
    if (maxBytesPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty) return versionCapped
    var admitted = base
    var bytes = 0L
    var files = 0L
    // charge exactly the commits a batch emits: skipped ones contribute no
    // rows, and charging them would drain the backlog one near-empty batch
    // at a time
    val pending = new ChangeFeedPlanner(table)
      .classify(vs.filter(v => v > base && v <= versionCapped))
    while (pending.hasNext && (admitted == base ||
        (maxBytesPerTrigger.forall(bytes < _) && maxFilesPerTrigger.forall(files < _)))) {
      val c = pending.next()
      if (keeps(c)) c.actions.foreach {
        case a: AddFile    => bytes += a.size; files += 1
        case f: AddCDCFile => bytes += f.size; files += 1
        case _             => ()
      }
      admitted = c.version
    }
    if (admitted == base) versionCapped else admitted
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = versionOf(end)
    // checkpoint recovery replays the last uncommitted batch through
    // getBatch BEFORE the next getOffset — record its end so the version
    // budget resumes from the recovered position, not from scratch
    advanceWatermark(endV)
    // one log-directory listing per batch (see offer()) — the guards and
    // the version-range filters below all read this point-in-time view
    val vs = log.versions()
    // a batch that ENDS below the earliest surviving version can only be a
    // checkpoint replay against a log cleaned past it — name the cause
    // instead of surfacing a raw missing-version failure
    if (endV < vs.headOption.getOrElse(Long.MinValue))
      throw new IllegalStateException(
        s"stream checkpoint replays version $endV of $tablePath but the earliest " +
          s"surviving log version is ${vs.head} — the commit log was " +
          "cleaned past this stream's checkpoint (graft.logRetentionDuration); " +
          "restart the stream from a fresh checkpoint or lengthen the log retention")
    // a cleaned commit log (graft.logRetentionDuration) that expired
    // versions this batch needs must FAIL, not silently skip them — a
    // change stream that drops commits is data loss (Delta's streaming
    // source raises the same way when the log is vacuumed past an offset)
    def guardCleaned(firstNeeded: Long): Unit = {
      val earliest = vs.headOption.getOrElse(Long.MaxValue)
      if (firstNeeded < earliest && firstNeeded <= endV)
        throw new IllegalStateException(
          s"stream needs version $firstNeeded of $tablePath but the earliest surviving " +
            s"log version is $earliest — the commit log was cleaned past this stream's " +
            "checkpoint (graft.logRetentionDuration); restart the stream from a fresh " +
            "checkpoint or lengthen the log retention")
    }
    val out = start match {
      case None =>
        startingVersion match {
          case Some(sv) =>
            guardCleaned(sv)
            changes(vs.filter(v => v >= sv && v <= endV), endV)
          case None     => snapshotAsInserts(endV)
        }
      case Some(s) =>
        val startV = versionOf(s)
        guardCleaned(startV + 1)
        changes(vs.filter(v => v > startV && v <= endV), endV)
    }
    val aligned = out.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    org.apache.spark.sql.graft.SparkBridge.streamingDataFrame(
      spark, aligned.queryExecution.toRdd, schema)
  }

  /** Align a batch frame to the stream schema: versions older than a
    * schema-evolving append lack the later columns — they become typed
    * nulls, as in the batch change feed's read of those files.
    * A column NOT in the stream schema means the table evolved mid-stream
    * (the schema was pinned at source creation) — silently selecting it away
    * would drop data, so fail the query loudly instead; a restart picks up
    * the widened schema (Delta's streaming source fails the same way).
    */
  private def widen(df: DataFrame): DataFrame = {
    // rows-only mode: the change columns are still PRESENT on the internal
    // batch frames (the final projection drops them) — they are not
    // mid-stream schema evolution
    val known = schema.fieldNames.toSet ++
      (if (dropChangeColumns) Set("_change_type", "_commit_version")
       else Set.empty[String])
    val extra = df.columns.filterNot(known.contains)
    if (extra.nonEmpty)
      throw new IllegalStateException(
        s"schema of $tablePath changed mid-stream (new columns: ${extra.mkString(", ")}); " +
          "restart the streaming query to pick up the evolved schema")
    val present = df.columns.toSet
    val full = schema.fields.foldLeft(df) { (acc, f) =>
      if (present.contains(f.name)) acc
      else acc.withColumn(f.name, lit(null).cast(f.dataType))
    }
    full.select(schema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** LongOffset on a live run; a json-serialized offset after checkpoint
    * recovery — both carry the version as their json.
    */
  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case other =>
      try other.json.trim.toLong
      catch {
        case e: NumberFormatException => throw new IllegalStateException(
          s"unreadable graft stream offset '${other.json}' (expected a table " +
            "version number) — the checkpoint offset log may be corrupt or " +
            "written by an incompatible source", e)
      }
  }

  private def snapshotAsInserts(v: Long): DataFrame =
    // through widen(): the table may have gained columns between source
    // creation (schema pinned) and the first trigger — the snapshot path
    // must fail as loudly as the per-version change path does, not silently
    // project the new column away
    widen(table.toDFAt(v)
      .withColumn("_change_type", lit("insert"))
      .withColumn("_commit_version", lit(v)))

  /** The batch of `versions` (ending at `end`): the commits this stream
    * keeps, through the same planner as the batch change feed — at most one
    * change-file scan and one append scan however many versions it spans —
    * without `_commit_timestamp`, which the stream schema does not carry.
    */
  private def changes(versions: Seq[Long], end: Long): DataFrame = {
    val planner = new ChangeFeedPlanner(table)
    planner.frames(planner.classify(versions).filter(keeps).toSeq, end)
      .map(df => widen(df.drop("_commit_timestamp")))
      // batch-shaped here; getBatch re-tags the final frame as streaming
      .getOrElse(spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
  }

  /** This stream's policy over the planner's kinds: whether a batch emits
    * the commit (and the trigger budgets charge it), or a loud error for a
    * commit the stream can neither emit nor skip.
    *  - Appends and insert-only change files always flow; layout-only and
    *    metadata-only commits never carry rows.
    *  - `skipChangeCommits` drops every commit that removes files (Delta's
    *    option: the caller declared the stream append-only; it never
    *    re-emits a rewrite's copied rows).
    *  - Change rows — recorded or synthesized — flow with the change
    *    columns; a rows-only stream (`dropChangeColumns`, the
    *    readStream.table shape) cannot represent deletes and updates as
    *    plain rows (a deleted row would be appended back), so it fails.
    *  - `ignoreDeletes` skips a pure delete the stream cannot represent
    *    (Delta's option for retention deletes under an append-only reader).
    *  - Files removed with no change data (CDF off) fail: the stream cannot
    *    represent the removed rows.
    */
  private def keeps(c: ChangeFeedPlanner.Commit): Boolean = c match {
    case _: ChangeFeedPlanner.LayoutOnly | _: ChangeFeedPlanner.MetadataOnly => false
    case _ if !c.rewrites => true
    case _ if skipChangeCommits => false
    case _: ChangeFeedPlanner.ChangeFiles if !dropChangeColumns => true
    case _ if ignoreDeletes && c.pureDelete => false
    case _: ChangeFeedPlanner.Replace if !dropChangeColumns => true
    case _: ChangeFeedPlanner.Unrecorded =>
      throw new IllegalStateException(
        s"version ${c.version} of $tablePath removed files but wrote no change data; " +
          "enable CDF (graft.enableChangeDataFeed) for streamed tables, " +
          "or set ignoreDeletes/skipChangeCommits to skip such commits")
    case _ =>
      throw new IllegalStateException(
        s"version ${c.version} of $tablePath is a data-changing commit, which a " +
          "rows-only stream (readStream.table) cannot represent; set " +
          "skipChangeCommits/ignoreDeletes to skip such commits, or " +
          "stream the change feed via readStream.format(\"graft\")")
  }

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

object GraftStreamSource {

  /** Default bound on commits per micro-batch (see class doc). */
  val DefaultMaxVersionsPerTrigger: Long = 100L

  /** State of the persisted offer high-watermark at source construction. */
  sealed trait Marker
  case object MarkerAbsent extends Marker
  /** Marker file present but unreadable (torn write) — restart of unknown
    * progress; only an unbudgeted head offer is safe.
    */
  case object MarkerCorrupt extends Marker
  final case class MarkerAt(version: Long) extends Marker

  private def watermarkPath(metadataPath: String) =
    new org.apache.hadoop.fs.Path(metadataPath, "graft-offer-watermark")

  /** Read the persisted high-watermark (max version ever offered) from the
    * checkpoint's source-metadata dir. Absent path/file → [[MarkerAbsent]];
    * present but unparseable → [[MarkerCorrupt]].
    */
  private[sources] def readWatermark(
      spark: org.apache.spark.sql.SparkSession,
      metadataPath: Option[String]): Marker =
    metadataPath.fold[Marker](MarkerAbsent) { dir =>
      val p = watermarkPath(dir)
      val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(p)) MarkerAbsent
      else {
        try {
          val in = fs.open(p)
          val text = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          MarkerAt(text.toLong)
        } catch { case scala.util.control.NonFatal(_) => MarkerCorrupt }
      }
    }

  /** Durably record `version` as the offer high-watermark. Called BEFORE the
    * offer is returned to Spark, so the marker always leads the offset log —
    * a marker AHEAD of the committed offset only caps the next batch's
    * budget high (batches still span from the committed offset; nothing is
    * skipped), while a marker BEHIND it could re-emit versions. Written via
    * temp-file + atomic rename (FileContext OVERWRITE), not an in-place
    * overwrite: a crash mid-write must leave the PREVIOUS marker readable —
    * an in-place torn write left [[MarkerCorrupt]], which is safe but makes
    * the restart's first batch unbudgeted (one huge batch on a large
    * backlog).
    */
  private[sources] def writeWatermark(
      spark: org.apache.spark.sql.SparkSession,
      metadataPath: Option[String],
      version: Long): Unit =
    metadataPath.foreach { dir =>
      val p = watermarkPath(dir)
      val conf = spark.sessionState.newHadoopConf()
      // FIXED tmp name, not a fresh UUID: one driver owns the checkpoint, so
      // there is no concurrent writer to collide with, and a crash between
      // create and rename then leaves at most ONE stale tmp (overwritten by
      // the next attempt) instead of unbounded uniquely-named debris
      val tmp = p.suffix(".tmp")
      val fs = p.getFileSystem(conf)
      val out = fs.create(tmp, true)
      try out.write(version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    }

  def schemaOf(spark: org.apache.spark.sql.SparkSession, tablePath: String): StructType =
    GraftTable.forPath(spark, tablePath).schemaOnly // metadata head — no file fold
      .add("_change_type", StringType)
      .add("_commit_version", LongType)
}
