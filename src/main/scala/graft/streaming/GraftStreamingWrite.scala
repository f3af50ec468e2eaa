package graft.streaming

import java.nio.file.{Files, Paths}
import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.tables.{Fs, GraftLog, GraftTable, TableWriter}

/** V2 `StreamingWrite` behind `df.writeStream.toTable("graft_cat.ns.t")` —
  * the ergonomic default Structured Streaming teaches — with the same
  * exactly-once contract as the path sink ([[GraftSink]]):
  *
  *  - **per-task writers**: each executor task writes its rows as
  *    partition-laid-out parquet into a per-epoch STAGING dir under the
  *    table (no second shuffle, no driver data movement);
  *  - **epoch-fenced commit**: the driver's `commit(epochId, _)` registers
  *    the staged files through [[TableWriter.write]]'s pre-staged seam —
  *    optimizeWrite re-bin, footer stats, bloom attach and the OCC retry
  *    loop all run unchanged — atomically with the
  *    `SetTransaction(appId, epochId)` watermark, so a REPLAYED epoch
  *    (at-least-once micro-batch recovery) is detected and skipped, and a
  *    zombie instance racing a committed epoch aborts on the watermark
  *    conflict check instead of double-appending;
  *  - tables whose writes must run a row projection (CHECK constraints,
  *    generated/default/identity columns, column mapping) FALL BACK to the
  *    full DataFrame engine: the staged epoch is read back and routed
  *    through [[GraftSink.writeEpoch]] — one extra read+write of that
  *    epoch's own bytes, full feature enforcement. The direct registration
  *    path is the scale default; the fallback keeps feature tables correct
  *    rather than silently unchecked.
  *
  * The idempotence appId is the streaming QUERY id (stable across restarts
  * from one checkpoint — Spark hands it to `LogicalWriteInfo.queryId`)
  * unless `option("txnAppId", ...)` pins it, exactly the path sink's rule.
  */
class GraftStreamingWrite(
    tablePath: String,
    info: LogicalWriteInfo,
    overwrite: Boolean)
  extends StreamingWrite {

  private val appId: String =
    Option(info.options.get("txnAppId")).getOrElse(info.queryId)
  private val schema: StructType = info.schema

  override def toString: String = s"GraftStreamingWrite[$tablePath]"

  /** Partition columns and NOT NULL brands resolved at plan time from the
    * table's log (empty/none for a table being created by this stream's
    * first epoch). The TABLE's nullability is authoritative for the
    * per-row invariant check in the epoch writers — the streamed query's
    * schema nullability is whatever the source happened to infer.
    */
  private val planSnapshot =
    if (GraftTable.exists(tablePath)) Some(new GraftLog(tablePath).snapshot())
    else None
  private val partitionColumns: Seq[String] =
    planSnapshot.map(_.metadata.partitionColumns).getOrElse(Nil)
  private val tableNullability: Map[String, Boolean] =
    planSnapshot.map(_.schema.fields.map(f =>
      f.name.toLowerCase -> f.nullable).toMap).getOrElse(Map.empty)

  /** Top-level columns the epoch writers actually enforce (the plan-time
    * brand overlay): commit re-checks the TABLE's brands against this set
    * — a SET NOT NULL landing mid-stream, or a nested NOT NULL leaf (the
    * per-ordinal row check is top-level only), routes the epoch through
    * the full-DataFrame fallback, which enforces everything.
    */
  private val enforcedBrands: Set[String] = schema.fields.iterator
    .map(f => f.name.toLowerCase ->
      tableNullability.getOrElse(f.name.toLowerCase, f.nullable))
    .collect { case (n, nullable) if !nullable => n }.toSet

  /** The epoch staging dir this instance last created — commit/abort must
    * reclaim it even when ZERO tasks reported (an empty micro-batch sends
    * no messages, and the dir would otherwise leak one per empty epoch).
    * Micro-batch execution runs one epoch at a time per query, so a single
    * slot suffices.
    */
  @volatile private var lastStaging: Option[String] = None

  override def createStreamingWriterFactory(
      pInfo: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    TableWriter.ensureWriteConfs(spark)
    val dataSchema = StructType(schema.fields.filterNot(f =>
      partitionColumns.exists(_.equalsIgnoreCase(f.name))))
    val missing = partitionColumns.filterNot(p =>
      schema.fieldNames.exists(_.equalsIgnoreCase(p)))
    require(missing.isEmpty,
      s"streaming write into $tablePath lacks partition column(s) ${missing.mkString(", ")}")
    // per-epoch staging dir under the table (same filesystem → atomic
    // moves); the factory's tasks write here, commit() consumes it
    val staging = Fs.child(tablePath, s".graft-stream-epoch-${UUID.randomUUID()}")
    Fs.mkdirs(staging)
    lastStaging = Some(staging)
    val conf = spark.sessionState.newHadoopConf()
    val (owf, confBox) = org.apache.spark.sql.graft.SparkBridge
      .parquetWriteKit(spark, conf, dataSchema)
    // the writers' invariant check reads the TABLE's brands, overlaid by
    // name onto the query schema (a new table inherits the query's own)
    val branded = StructType(schema.fields.map(f =>
      f.copy(nullable = tableNullability.getOrElse(f.name.toLowerCase, f.nullable))))
    GraftEpochWriterFactory(owf, confBox, dataSchema.json, branded.json,
      partitionColumns, staging,
      spark.sessionState.conf.sessionLocalTimeZone)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val spark = SparkSession.active
    val msgs = messages.toSeq.collect { case m: GraftEpochFilesMessage => m }
    val stagings: Seq[String] = msgs.map(_.stagingDir).distinct
    require(stagings.size <= 1,
      s"epoch $epochId produced messages from ${stagings.size} staging dirs — " +
        "mixed write attempts must not commit together")
    val rawStaging = stagings.headOption
    var staging: Option[String] = None
    try {
      // register EXACTLY the files the committed task attempts reported,
      // by MOVING them into a fresh commit dir (not by pruning the shared
      // dir in place): a zombie attempt whose abort never ran can land a
      // fully-footered file at ANY time — after an in-place prune but
      // before the dir is consumed — and it must never become table data.
      // Only the message-listed paths enter the commit dir; whatever a
      // straggler writes lands in the abandoned raw dir, deleted below
      // (and swept by vacuum if even that races). The move loop runs
      // INSIDE this try so a mid-loop failure still reclaims both dirs in
      // the finally. Paths resolve by relative name — no separator-
      // sensitive string comparison exists.
      staging = rawStaging.map { dir =>
        val commitDir = Fs.child(Fs.parent(dir), Fs.fileName(dir) + "-commit")
        Fs.mkdirs(commitDir)
        msgs.flatMap(_.relPaths).distinct.foreach { rel =>
          val src = Fs.child(dir, rel)
          val dst = Fs.child(commitDir, rel)
          Fs.mkdirs(Fs.parent(dst))
          Fs.moveNoReplace(src, dst)
        }
        commitDir
      }
      val snap =
        if (GraftTable.exists(tablePath)) Some(new GraftLog(tablePath).snapshot())
        else None
      if (snap.exists(_.transactions.get(appId).exists(_ >= epochId))) return // replay
      val mode = if (overwrite) TableWriter.Overwrite else TableWriter.Append
      val props = snap.map(_.metadata.properties)
        .getOrElse(GraftTable.sessionDefaultProperties(spark))
      val schemaMatches = snap.forall { s =>
        val t = s.schema.fields.map(f => (f.name.toLowerCase, f.dataType))
        val w = schema.fields.map(f => (f.name.toLowerCase, f.dataType))
        t.sameElements(w)
      }
      // the mapping gate must see the TABLE's schema — the stream's schema
      // carries no physicalName metadata, so checking it would route mapped
      // tables onto the direct path instead of the documented fallback
      val gateSchema = snap.map(_.schema).getOrElse(schema)
      // every NOT NULL brand of the COMMIT-time schema must be one the
      // epoch writers enforced at plan time (top-level, known then) — else
      // this epoch replays through the full engine below
      val brandsCovered = TableWriter.notNullPaths(gateSchema).forall(p =>
        p.lengthCompare(1) == 0 && enforcedBrands.contains(p.head.toLowerCase))
      if (TableWriter.canRegisterPreStaged(props, gateSchema) && schemaMatches &&
          brandsCovered) {
        // DIRECT registration: the staged parquet IS the data write
        TableWriter.write(
          spark, tablePath,
          // schema-only frame (never executed — preStagedDir skips the
          // staging write); staged files carry the data schema, partition
          // values ride the dir layout
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema),
          mode,
          partitionColumns = partitionColumns,
          operation = "STREAMING UPDATE",
          operationParameters = Map("queryId" -> appId, "epochId" -> epochId.toString),
          extraActions = Seq(graft.tables.SetTransaction(appId, epochId)),
          read = snap.map(Left(_)),
          skipDataWrite = staging.isEmpty,
          preStagedDir = staging)
        ()
      } else {
        // feature fallback: replay the staged epoch through the full
        // DataFrame engine (constraints, generated/identity columns,
        // column mapping all enforced)
        val df = staging match {
          case Some(dir) =>
            spark.read.schema(schema).option("basePath", dir).parquet(dir)
          case None =>
            spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        }
        GraftSink.writeEpoch(tablePath, appId, mode, partitionColumns)(df, epochId)
        ()
      }
    } finally {
      (staging.toSeq ++ rawStaging ++ lastStaging).distinct.foreach { dir =>
        if (Fs.exists(dir)) Fs.deleteRecursively(dir)
      }
      lastStaging = None
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dirs = messages.toSeq.collect { case m: GraftEpochFilesMessage =>
      m.stagingDir
    } ++ lastStaging
    dirs.distinct.foreach { p =>
      if (Fs.exists(p)) Fs.deleteRecursively(p)
    }
    lastStaging = None
  }
}

/** Commit message of one task: the staging dir it wrote under and its
  * produced staging-relative file paths.
  */
case class GraftEpochFilesMessage(stagingDir: String, relPaths: Seq[String])
  extends WriterCommitMessage

/** Serializable per-epoch factory: ships the driver-prepared parquet
  * [[OutputWriterFactory]] (codec/schema conf baked in) plus the layout
  * facts each task needs. One writer per task; rows split across partition
  * subdirectories by value, exactly the staging layout
  * `df.write.partitionBy` produces — so [[TableWriter]]'s move/stats/
  * partition-value machinery applies unchanged.
  */
case class GraftEpochWriterFactory(
    owf: OutputWriterFactory,
    confBox: org.apache.spark.sql.graft.SparkBridge.ConfBox,
    dataSchemaJson: String,
    fullSchemaJson: String,
    partitionColumns: Seq[String],
    stagingDir: String,
    timeZoneId: String)
  extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftEpochDataWriter(this, partitionId, taskId)
}

/** Per-task parquet writer. Partitioned tables keep one open
  * [[OutputWriter]] per partition value seen by this task (no sort
  * requirement; micro-batch tasks see few values — a pathological
  * high-cardinality epoch fails loudly at [[GraftEpochDataWriter.MaxOpenWriters]]
  * rather than exhausting memory).
  */
class GraftEpochDataWriter(
    f: GraftEpochWriterFactory,
    partitionId: Int,
    taskId: Long)
  extends DataWriter[InternalRow] {

  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}

  private val fullSchema =
    DataType.fromJson(f.fullSchemaJson).asInstanceOf[StructType]
  private val dataSchema =
    DataType.fromJson(f.dataSchemaJson).asInstanceOf[StructType]

  private val partIdx: Seq[Int] =
    f.partitionColumns.map(c => fullSchema.fieldIndex(
      fullSchema.fieldNames.find(_.equalsIgnoreCase(c)).getOrElse(c)))
  // data-column projection in DATA SCHEMA order (full row → payload row)
  private val dataProjection = UnsafeProjection.create(
    dataSchema.fields.map { df0 =>
      val i = fullSchema.fieldIndex(df0.name)
      BoundReference(i, fullSchema.fields(i).dataType, fullSchema.fields(i).nullable)
    }.toIndexedSeq)
  // partition values rendered through Catalyst Cast-to-string — dates,
  // timestamps and decimals format exactly as the DataFrame writer's dirs
  private val partStringProjections = partIdx.map { i =>
    UnsafeProjection.create(Seq(Cast(
      BoundReference(i, fullSchema.fields(i).dataType, fullSchema.fields(i).nullable),
      org.apache.spark.sql.types.StringType, Some(f.timeZoneId))))
  }

  // NOT NULL invariants (the pre-staged path bypasses TableWriter's write
  // projection, so top-level brands are checked HERE, one isNullAt branch
  // per required ordinal per row — nested struct leaves are rare in
  // streamed sinks and such tables should write through the DataFrame
  // engine; the projection path enforces them fully)
  private val requiredOrdinals: Array[Int] =
    fullSchema.fields.zipWithIndex.collect {
      case (fld, i) if !fld.nullable => i
    }

  private val taskContext = {
    val conf = new Configuration(f.confBox.value)
    new TaskAttemptContextImpl(conf,
      new TaskAttemptID(new TaskID(new org.apache.hadoop.mapreduce.JobID("graft", 0),
        TaskType.MAP, partitionId), taskId.toInt & Int.MaxValue))
  }
  private val extension = f.owf.getFileExtension(taskContext)

  private var writers = Map.empty[String, (OutputWriter, String)] // relDir → (writer, relFile)

  // EXECUTOR-side staging IO: remote schemes go through hadoop.fs with the
  // factory's SHIPPED conf (no Spark session exists on a task thread, so
  // Fs.hadoopConf would miss spark.hadoop.* scheme registrations); local
  // staging keeps java.nio. Hadoop's create() makes parent dirs itself.
  private val remoteStaging = Fs.isRemote(f.stagingDir)
  private def stagingFs =
    new org.apache.hadoop.fs.Path(f.stagingDir).getFileSystem(taskContext.getConfiguration)

  private def relDirOf(row: InternalRow): String =
    f.partitionColumns.indices.map { k =>
      val i = partIdx(k)
      val v =
        if (row.isNullAt(i)) GraftEpochDataWriter.DefaultPartitionName
        else {
          val s = partStringProjections(k)(row).getUTF8String(0).toString
          if (s.isEmpty) GraftEpochDataWriter.DefaultPartitionName
          else GraftEpochDataWriter.escapePathSegment(s)
        }
      s"${GraftEpochDataWriter.escapePathSegment(f.partitionColumns(k))}=$v"
    }.mkString("/")

  private def writerFor(relDir: String): OutputWriter =
    writers.get(relDir) match {
      case Some((w, _)) => w
      case None =>
        require(writers.size < GraftEpochDataWriter.MaxOpenWriters,
          s"streaming epoch task $taskId touched more than " +
            s"${GraftEpochDataWriter.MaxOpenWriters} partition values — repartition " +
            "the stream by the partition column(s) before writing")
        val name = f"part-$partitionId%05d-${UUID.randomUUID()}$extension"
        val rel = if (relDir.isEmpty) name else s"$relDir/$name"
        val abs =
          if (remoteStaging) Fs.child(f.stagingDir, rel)
          else {
            val dir = Paths.get(f.stagingDir).resolve(relDir)
            Files.createDirectories(dir)
            dir.resolve(name).toString
          }
        val w = f.owf.newInstance(abs, dataSchema, taskContext)
        writers += relDir -> (w, rel)
        w
    }

  override def write(row: InternalRow): Unit = {
    var k = 0
    while (k < requiredOrdinals.length) {
      val i = requiredOrdinals(k)
      if (row.isNullAt(i))
        throw new IllegalArgumentException(
          s"NOT NULL constraint violated for column: ${fullSchema.fields(i).name}")
      k += 1
    }
    val relDir = if (f.partitionColumns.isEmpty) "" else relDirOf(row)
    writerFor(relDir).write(dataProjection(row))
  }

  override def commit(): WriterCommitMessage = {
    val rels = writers.values.map { case (w, rel) => w.close(); rel }.toSeq
    writers = Map.empty
    GraftEpochFilesMessage(f.stagingDir, rels)
  }

  override def abort(): Unit = {
    writers.values.foreach { case (w, rel) =>
      try w.close() catch { case _: Throwable => () }
      if (remoteStaging)
        stagingFs.delete(
          new org.apache.hadoop.fs.Path(Fs.child(f.stagingDir, rel)), false)
      else Files.deleteIfExists(Paths.get(f.stagingDir).resolve(rel))
      ()
    }
    writers = Map.empty
  }

  override def close(): Unit = ()
}

object GraftEpochDataWriter {
  /** Spark's null/empty partition-dir token (the scan maps it back to
    * null) — ONE definition with the read side's comparator.
    */
  val DefaultPartitionName: String = TableWriter.HiveDefaultPartition

  /** Open-writer bound per task — micro-batch epochs should touch few
    * partition values per task; beyond this the stream needs an upstream
    * repartition, not more memory.
    */
  val MaxOpenWriters = 64

  /** Whether this JVM's default filesystem can address non-ASCII path
    * segments (false under a POSIX/ASCII locale, where `java.nio` throws
    * InvalidPathException on unmappable characters). Probed once.
    */
  private lazy val fsHandlesNonAscii: Boolean =
    try { java.nio.file.Paths.get("café"); true }
    catch { case _: java.nio.file.InvalidPathException => false }

  /** Spark's own partition-dir escaping (the inverse of
    * [[TableWriter.percentDecode]]). ONLY when the JVM's filesystem layer
    * cannot address non-ASCII segments at all (POSIX/ASCII locale — where
    * vanilla Spark's own partitioned write CRASHES on such values), the
    * remaining non-ASCII bytes are additionally %XX-encoded so the direct
    * registration path still works; `percentDecode` reverses either
    * spelling. On normal UTF-8 JVMs the dirs stay byte-identical to
    * `df.write.partitionBy`'s, which also keeps the feature-FALLBACK read
    * (Spark partition inference, which decodes %XX per UTF-16 char, not
    * per UTF-8 byte) correct there.
    */
  def escapePathSegment(s: String): String = {
    val esc = org.apache.spark.sql.graft.SparkBridge.escapePathName(s)
    if (fsHandlesNonAscii || esc.forall(_ < 0x80)) esc
    else esc.getBytes(java.nio.charset.StandardCharsets.UTF_8).map { b =>
      val u = b & 0xff
      if (u < 0x80) u.toChar.toString else f"%%$u%02X"
    }.mkString
  }
}
