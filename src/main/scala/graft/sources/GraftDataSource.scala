package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BoundReference, Cast, Expression, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{col, lit, not}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

import graft.tables.{AddFile, FileSkipping, GraftLog, GraftTable, SegmentHead, Snapshot, TableWriter}

/** `USING graft` — a Spark data-source binding for versioned graft tables, so
  * they live in the REAL Spark catalog like the reference's metastore tables
  * (`CREATE TABLE default.x USING DELTA LOCATION ...`,
  * reference `OperationMetricHelperSpec.scala:288`, `DeltaHelperSpec.scala:438`).
  *
  * A plain `USING parquet LOCATION` catalog table would be WRONG for a graft
  * table: the directory keeps tombstoned files physically until VACUUM, so a
  * directory-level scan reads dead rows. This source instead resolves the
  * commit log at scan time and reads exactly the current snapshot's live
  * files.
  *
  * Scale design — the read path is two-tier:
  *
  *  1. Catalog/INSERT resolution sees [[GraftRelation]], a deliberately plain
  *     `PrunedFilteredScan with InsertableRelation`. It must NOT be a
  *     `HadoopFsRelation` subclass: Spark's `FindDataSourceTable` rebuilds
  *     cached `HadoopFsRelation`s via `.copy(...)` (to merge per-statement
  *     options), and a case-class copy would silently drop the
  *     `InsertableRelation` mixin — routing SQL INSERT around the commit log.
  *  2. [[GraftScanRewrite]] (a `Rule[LogicalPlan]` on the public
  *     `spark.experimental.extraOptimizations` hook, installed idempotently
  *     whenever a graft table is resolved) rewrites every
  *     `LogicalRelation(GraftRelation)` into a native
  *     `HadoopFsRelation(`[[GraftFileIndex]]`)` before planning, so reads
  *     plan as the stock vectorized parquet `FileSourceScan` — whole-stage
  *     codegen, columnar batches, parquet predicate pushdown — with file
  *     listing served from commit-log METADATA (no filesystem listing per
  *     query), exact partition pruning, and footer-stats skipping.
  *
  * Registered under the short name `graft` (META-INF/services), so
  * `CREATE TABLE name USING graft LOCATION '<path>'` and
  * `df.write.format("graft")` both resolve it.
  */
class GraftDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with StreamSourceProvider with StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  /** `CREATE TABLE t (<schema>) USING graft LOCATION '<dir>'` — the
    * schema-bearing DDL path (Spark routes it here via
    * `SchemaRelationProvider`). A fresh location materializes an EMPTY
    * graft table with the declared schema (a zero-file commit, like Delta's
    * metadata-only CREATE); an existing table validates the declared
    * schema against the log's — the log, not the catalog, is the source of
    * truth, so a silent mismatch would corrupt every later read.
    */
  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    if (!GraftTable.exists(path)) {
      val partitions = parameters.get("partitionColumns")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
      GraftTable.createEmpty(spark, path, schema, partitions)
      ()
    } else {
      val actual = GraftTable.forPath(spark, path).snapshot.schema
      // order-INSENSITIVE compare: DDL column order legitimately differs
      // from the log's write order (e.g. partition-columns-last relation
      // order), so match on the (name → type) mapping, not field position
      val declared = schema.fields.map(f => (f.name.toLowerCase, f.dataType)).toMap
      val existing = actual.fields.map(f => (f.name.toLowerCase, f.dataType)).toMap
      if (declared != existing)
        throw new IllegalArgumentException(
          s"declared schema ${schema.simpleString} does not match the graft table at " +
            s"$path (${actual.simpleString}); omit the column list to adopt the " +
            "table's own schema")
    }
    GraftScanRewrite.install(spark)
    GraftRelation(sqlContext, path)
  }

  /** `df.writeStream.format("graft").start(path)` — the exactly-once
    * streaming sink (see [[graft.streaming.GraftStreamSink]]). Append and
    * Complete output modes; Update has no table-level meaning here.
    */
  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    if (outputMode != OutputMode.Append() && outputMode != OutputMode.Complete())
      throw new IllegalArgumentException(
        s"graft sink supports Append and Complete output modes, got $outputMode")
    new graft.streaming.GraftStreamSink(
      pathOf(parameters), partitionColumns, outputMode, parameters.get("txnAppId"))
  }

  /** `spark.readStream.format("graft").load(path)` — the version-offset
    * change-data streaming source (see [[GraftStreamSource]]).
    */
  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    (shortName(),
      schema.getOrElse {
        if (parameters.get("dropChangeColumns").exists(_.trim.equalsIgnoreCase("true")))
          GraftTable.forPath(sqlContext.sparkSession, pathOf(parameters)).snapshot.schema
        else GraftStreamSource.schemaOf(sqlContext.sparkSession, pathOf(parameters))
      })

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): org.apache.spark.sql.execution.streaming.Source = {
    // startingTimestamp (Delta parity): resolved to the first version whose
    // commit timestamp is at-or-after it, using the same session-timezone
    // parsing as the batch CDF reader. Resolution happens ONCE at source
    // creation — offsets in the checkpoint stay version-based
    val startVersion: Option[Long] =
      (parameters.get("startingVersion"), parameters.get("startingTimestamp")) match {
        case (Some(_), Some(_)) => throw new IllegalArgumentException(
          "specify either startingVersion or startingTimestamp, not both")
        case (Some(v), None) => Some(v.trim.toLong)
        case (None, Some(ts)) =>
          val sessionTz = sqlContext.sparkSession.sessionState.conf.sessionLocalTimeZone
          val millis = GraftDataSource.parseTimestampMillis(ts.trim, sessionTz)
          Some(new graft.tables.GraftLog(pathOf(parameters)).versionAtOrAfter(millis)
            .getOrElse(throw new IllegalArgumentException(
              s"startingTimestamp '$ts' is after the latest commit of " +
                s"${pathOf(parameters)}")))
        case (None, None) => None
      }
    new GraftStreamSource(sqlContext, pathOf(parameters),
      startVersion,
      parameters.get("maxVersionsPerTrigger").map(_.trim.toLong)
        .getOrElse(GraftStreamSource.DefaultMaxVersionsPerTrigger),
      parameters.get("maxBytesPerTrigger").map(_.trim.toLong),
      // checkpoint-scoped metadata dir: the source persists its offer
      // high-watermark here so budgeted restarts never regress below the
      // committed offset (see GraftStreamSource.writeWatermark)
      metadataPath = Some(metadataPath),
      maxFilesPerTrigger = parameters.get("maxFilesPerTrigger").map(_.trim.toLong),
      ignoreDeletes = parameters.get("ignoreDeletes").exists(_.trim.equalsIgnoreCase("true")),
      skipChangeCommits =
        parameters.get("skipChangeCommits").exists(_.trim.equalsIgnoreCase("true")),
      dropChangeColumns =
        parameters.get("dropChangeColumns").exists(_.trim.equalsIgnoreCase("true")))
  }

  private def pathOf(parameters: Map[String, String]): String = {
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft data source requires a path (LOCATION '<dir>' or option(\"path\", ...))"))
    // the catalog qualifies LOCATION into a (percent-encoded) file: URI
    if (p.startsWith("file:"))
      java.nio.file.Paths.get(java.net.URI.create(p)).toString
    else p
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val sessionTz = sqlContext.sparkSession.sessionState.conf.sessionLocalTimeZone
    if (parameters.get("readChangeFeed").exists(_.trim.equalsIgnoreCase("true")))
      GraftDataSource.cdfRelation(sqlContext, pathOf(parameters), parameters, sessionTz)
    else {
      GraftScanRewrite.install(sqlContext.sparkSession)
      GraftRelation(sqlContext, pathOf(parameters),
        GraftDataSource.resolveVersion(pathOf(parameters), parameters, sessionTz))
    }
  }

  /** `df.write.format("graft").mode(...).save(path)` — maps SaveMode onto the
    * table writer's commit protocol (Append/Overwrite commits, ErrorIfExists /
    * Ignore on an existing log).
    *
    * IDEMPOTENT writes (Delta's `txnAppId`/`txnVersion` writer options,
    * both or neither): the commit carries a `SetTransaction(appId, version)`
    * watermark, and a write whose version is ≤ the table's recorded
    * watermark for that appId is SKIPPED entirely — a restarted batch job
    * replaying its last stage cannot double-append. The same zombie guard
    * the streaming sink gets applies: losing a commit race to a writer that
    * advanced the same appId aborts instead of blind-retrying.
    */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val exists = GraftTable.exists(path)
    val txn: Option[(String, Long)] =
      (parameters.get("txnAppId"), parameters.get("txnVersion")) match {
        case (Some(app), Some(v)) => Some((app, v.trim.toLong))
        case (None, None)         => None
        case _ => throw new IllegalArgumentException(
          "txnAppId and txnVersion must be set together (idempotent-write options)")
      }
    // ONE snapshot read serves the watermark probe, the partition lookup and
    // — via readVersion — the commit's conflict validation: a concurrent
    // same-appId writer landing between this read and the commit is then
    // caught by the SetTransaction check even WITHOUT a version-number
    // collision (the window GraftSink.writeEpoch closes the same way; an
    // uncollided clean commit would otherwise double-append)
    val snapBefore = if (exists) Some(GraftTable.forPath(spark, path).snapshot) else None
    val alreadyApplied = txn.exists { case (app, v) =>
      snapBefore.exists(_.transactions.get(app).exists(_ >= v))
    }
    val txnActions: Seq[graft.tables.Action] =
      txn.map { case (app, v) => graft.tables.SetTransaction(app, v) }.toSeq
    val txnReadVersion = if (txn.isDefined) snapBefore.map(_.version) else None
    val replaceWhere = parameters.get("replaceWhere").map(_.trim)
    // a PRESENT-but-blank predicate is a caller bug (e.g. a templating slip),
    // not an absent option — treating it as absent would silently escalate a
    // region replace into a full-table overwrite
    if (replaceWhere.exists(_.isEmpty))
      throw new IllegalArgumentException(
        "replaceWhere predicate is empty; omit the option for a full overwrite")
    if (replaceWhere.isDefined && mode != SaveMode.Overwrite)
      throw new IllegalArgumentException(
        s"replaceWhere requires mode 'overwrite', got $mode")
    if (replaceWhere.isDefined && !exists)
      throw new IllegalArgumentException(
        s"replaceWhere requires an existing graft table at $path (nothing to replace)")
    // Delta's partitionOverwriteMode: the writer option wins; absent, the
    // Spark session conf (spark.sql.sources.partitionOverwriteMode) governs
    // — DYNAMIC replaces only the partitions the incoming data lands in
    def isDynamic(v: String): Boolean = {
      require(v.trim.equalsIgnoreCase("dynamic") || v.trim.equalsIgnoreCase("static"),
        s"partitionOverwriteMode must be 'static' or 'dynamic', got '$v'")
      v.trim.equalsIgnoreCase("dynamic")
    }
    val optionDynamic = parameters.get("partitionOverwriteMode").map(isDynamic)
    val dynamicOverwrite = optionDynamic.getOrElse(
      spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
        .exists(isDynamic)) && replaceWhere.isEmpty
    if (parameters.get("partitionOverwriteMode").isDefined && mode != SaveMode.Overwrite)
      throw new IllegalArgumentException(
        s"partitionOverwriteMode requires mode 'overwrite', got $mode")
    // only an EXPLICIT writer-option dynamic conflicts with replaceWhere —
    // the session conf is a global default users set for plain file-source
    // tables, and Delta lets replaceWhere take precedence over it (an
    // option-level request, by contrast, is a contradiction to refuse)
    if (optionDynamic.contains(true) && replaceWhere.isDefined)
      throw new IllegalArgumentException(
        "replaceWhere cannot combine with partitionOverwriteMode=dynamic — " +
          "the predicate and the data-derived partition set would fight over " +
          "what gets replaced; use one or the other")
    if (!alreadyApplied) mode match {
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(s"graft table already exists at $path")
      case SaveMode.Ignore if exists => ()
      case SaveMode.Append if exists =>
        TableWriter.write(spark, path, data, TableWriter.Append,
          extraActions = txnActions, readVersion = txnReadVersion)
      case SaveMode.Overwrite if exists && replaceWhere.isDefined =>
        graft.operators.TableOps.overwriteWhere(
          GraftTable.forPath(spark, path), data, replaceWhere.get,
          extraActions = txnActions)
      case SaveMode.Overwrite if exists =>
        val dynamic = dynamicOverwrite && snapBefore.get.metadata.partitionColumns.nonEmpty
        TableWriter.write(spark, path, data, TableWriter.Overwrite,
          partitionColumns = snapBefore.get.metadata.partitionColumns,
          operationParameters =
            if (dynamic) Map("mode" -> "Overwrite", "partitionOverwriteMode" -> "dynamic")
            else Map.empty,
          dynamicPartitionOverwrite = dynamic,
          extraActions = txnActions, readVersion = txnReadVersion)
      case _ =>
        val partitions = parameters.get("partitionColumns")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
        if (txnActions.isEmpty) { GraftTable.create(spark, path, data, partitions); () }
        // operation WRITE, not CREATE TABLE: the metric helpers count only
        // MERGE/WRITE/DELETE/UPDATE, and GraftTable.create records
        // data-bearing creation as WRITE for the same reason
        else TableWriter.write(spark, path, data, TableWriter.Overwrite,
          partitionColumns = partitions, extraActions = txnActions)
    }
    GraftScanRewrite.install(spark)
    GraftRelation(sqlContext, path)
  }
}

object GraftDataSource {

  /** Time-travel read options (Delta's reader contract):
    * `option("versionAsOf", v)` pins an exact committed version;
    * `option("timestampAsOf", ts)` resolves to the LATEST version whose
    * commit timestamp is ≤ ts (`yyyy-MM-dd[ HH:mm:ss[.fff]]`, interpreted in
    * the SESSION timezone — `spark.sql.session.timeZone`, not the JVM
    * default — or an ISO-8601 instant with explicit zone), erroring if the
    * table's earliest commit is after ts.
    */
  private[graft] def resolveVersion(
      path: String, parameters: Map[String, String],
      sessionTz: String): Option[Long] = {
    val byVersion = parameters.get("versionAsOf").map(_.trim.toLong)
    val byTs = parameters.get("timestampAsOf").map { raw =>
      val millis = parseTimestampMillis(raw.trim, sessionTz)
      // monotonized timestamps: a writer clock lagging behind an earlier
      // commit must not pull the resolved version above a younger commit
      new graft.tables.GraftLog(path).versionAtOrBefore(millis)
        .getOrElse(throw new IllegalArgumentException(
          s"timestampAsOf '$raw' is before the earliest commit of $path"))
    }
    if (byVersion.isDefined && byTs.isDefined)
      throw new IllegalArgumentException(
        "specify either versionAsOf or timestampAsOf, not both")
    byVersion.orElse(byTs)
  }

  /** Batch change-data-feed read as a READER OPTION (Delta's public shape):
    * `spark.read.format("graft").option("readChangeFeed", "true")
    * .option("startingVersion", a)[.option("endingVersion", b)].load(path)`.
    * Version bounds may instead be timestamps (`startingTimestamp` /
    * `endingTimestamp`, session-timezone rules of [[parseTimestampMillis]]):
    * the start resolves to the EARLIEST commit at-or-after it, the end to
    * the LATEST commit at-or-before — Delta's CDF timestamp contract.
    * Delegates to [[graft.log.ChangeDataFeedHelper]]'s batched two-scan
    * plan; the relation serves the assembled rows without re-conversion.
    */
  private def cdfRelation(
      sqlContext: SQLContext, path: String,
      parameters: Map[String, String], sessionTz: String): BaseRelation = {
    def bad(msg: String) = throw new IllegalArgumentException(msg)
    if (parameters.contains("versionAsOf") || parameters.contains("timestampAsOf"))
      bad("readChangeFeed uses startingVersion/endingVersion (or the " +
        "*Timestamp forms) to bound the feed — versionAsOf/timestampAsOf " +
        "are snapshot time-travel options and cannot combine with it")
    val log = new graft.tables.GraftLog(path)
    // monotonized timestamps, like every other timestamp resolution — skewed
    // writer clocks must not move either bound across a younger version
    val start = (parameters.get("startingVersion"), parameters.get("startingTimestamp")) match {
      case (Some(v), None) => v.trim.toLong
      case (None, Some(ts)) =>
        log.versionAtOrAfter(parseTimestampMillis(ts.trim, sessionTz))
          .getOrElse(bad(s"startingTimestamp '$ts' is after the latest commit of $path"))
      case (None, None) =>
        bad("readChangeFeed requires startingVersion or startingTimestamp")
      case _ => bad("specify either startingVersion or startingTimestamp, not both")
    }
    val end = (parameters.get("endingVersion"), parameters.get("endingTimestamp")) match {
      case (Some(v), None) => v.trim.toLong
      case (None, Some(ts)) =>
        log.versionAtOrBefore(parseTimestampMillis(ts.trim, sessionTz))
          .getOrElse(bad(s"endingTimestamp '$ts' is before the earliest commit of $path"))
      case (None, None) => log.latestVersion()
      case _ => bad("specify either endingVersion or endingTimestamp, not both")
    }
    GraftCdfRelation(sqlContext, path, start, end)
  }

  /** Zone-less timestamp strings resolve against the SESSION timezone (the
    * same clock every timestamp the session displays uses); only an explicit
    * ISO offset/Z overrides it. `java.sql.Timestamp.valueOf` would bind to
    * the JVM default zone — wrong whenever driver JVM tz ≠ session tz.
    */
  private[graft] def parseTimestampMillis(s: String, sessionTz: String): Long = {
    val zone = java.time.ZoneId.of(sessionTz)
    try java.time.Instant.parse(s).toEpochMilli // explicit Z / offset
    catch {
      case _: java.time.format.DateTimeParseException =>
        val normalized = s.replace(' ', 'T')
        try java.time.OffsetDateTime.parse(normalized).toInstant.toEpochMilli
        catch {
          case _: java.time.format.DateTimeParseException =>
            try java.time.LocalDateTime.parse(normalized)
              .atZone(zone).toInstant.toEpochMilli
            catch {
              case _: java.time.format.DateTimeParseException =>
                java.time.LocalDate.parse(s).atStartOfDay(zone).toInstant.toEpochMilli
            }
        }
    }
  }
}

/** Catalog-resolvable view of one graft table — the RESOLUTION-TIME shape
  * only; [[GraftScanRewrite]] swaps it for the native file-scan relation
  * before physical planning. The schema is fixed at resolution time (Spark
  * caches the resolved plan per table name — after a schema-evolving write,
  * `spark.catalog.refreshTable(name)` picks up the new columns), but DATA is
  * always current: both the rewritten file index and the fallback
  * [[GraftRelation.buildScan]] re-read the commit log per query.
  *
  * The fallback scan (used only if the rewrite rule is somehow absent)
  * returns the INNER plan's `InternalRow` RDD with `needConversion=false`,
  * so even unrewritten reads pay no external-`Row` round-trip.
  */
case class GraftRelation(sqlContext: SQLContext, path: String,
    versionAsOf: Option[Long] = None)
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def table: GraftTable = GraftTable.forPath(sqlContext.sparkSession, path)

  /** The read-time resolution — pinned for time travel, latest otherwise:
    * Right(head) when reads take the Dataset-backed large-table path (live
    * files past `spark.graft.snapshot.driverFileLimit`), Left(snapshot)
    * otherwise. Re-resolved per call because the scan rewrite runs per
    * query and a compaction can move a table back across the limit.
    */
  private[sources] def resolveRead: Either[Snapshot, SegmentHead] =
    table.resolveRead(versionAsOf.getOrElse(-1L))

  /** Schema from the log HEAD — `val schema` runs at relation CREATION, and
    * a full snapshot fold here would materialize a 10⁶-file list before any
    * query even planned.
    */
  override val schema: StructType =
    new graft.tables.GraftLog(path).head(versionAsOf.getOrElse(-1L)).schema

  /** Rows are served as `InternalRow`s from the inner codegen'd parquet plan
    * (`needConversion=false` contract) — no per-row external conversion.
    */
  override def needConversion: Boolean = false

  override def buildScan(requiredColumns: Array[String], filters: Array[Filter]): RDD[Row] = {
    val snap = versionAsOf.map(table.toDFAt).getOrElse(table.toDF)
    val filtered = filters.flatMap(GraftRelation.translate).foldLeft(snap)(_.where(_))
    // empty projection (e.g. COUNT(*)) still needs the row cardinality
    val projected =
      if (requiredColumns.isEmpty) filtered.select()
      else filtered.select(requiredColumns.map(col).toIndexedSeq: _*)
    projected.queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  /** SQL `INSERT INTO name` / `INSERT OVERWRITE TABLE name`. */
  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(versionAsOf.isEmpty, "cannot write through a time-travel (versionAsOf) read")
    val spark = sqlContext.sparkSession
    if (overwrite) GraftTable.forPath(spark, path).overwrite(data)
    else GraftTable.forPath(spark, path).append(data)
    ()
  }
}

/** Relation backing the `readChangeFeed` reader option: schema and rows come
  * from [[graft.log.ChangeDataFeedHelper]]'s batched CDF assembly (at most
  * two parquet scans for the whole version range), served as `InternalRow`s
  * (`needConversion=false`) so the reader-option path costs nothing over
  * calling the helper directly.
  */
case class GraftCdfRelation(
    sqlContext: SQLContext, path: String, startingVersion: Long, endingVersion: Long)
  extends BaseRelation with TableScan {

  private lazy val cdf: DataFrame =
    graft.log.ChangeDataFeedHelper(
      sqlContext.sparkSession, path, startingVersion, endingVersion).readCDF

  override def schema: StructType = cdf.schema

  override def needConversion: Boolean = false

  override def buildScan(): RDD[Row] =
    cdf.queryExecution.toRdd.asInstanceOf[RDD[Row]]
}

object GraftRelation {

  /** Best-effort `sources.Filter` → `Column` translation for the fallback
    * scan. Untranslated filters are simply not pushed — Spark re-applies
    * every filter above the scan (default `unhandledFilters`), so this is
    * purely an optimization.
    */
  // NOTE: the catalog DELETE path keeps its own Filter→SQL renderer
  // (GraftV2Table.filterToSql) — this one yields Columns for the fallback
  // scan. Keep their supported-filter sets aligned when extending either.
  private[sources] def translate(f: Filter): Option[org.apache.spark.sql.Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case And(l, r)                => for (lc <- translate(l); rc <- translate(r)) yield lc && rc
    case Or(l, r)                 => for (lc <- translate(l); rc <- translate(r)) yield lc || rc
    case Not(c)                   => translate(c).map(not)
    case _                        => None
  }
}

/** Optimizer rewrite: `LogicalRelation(`[[GraftRelation]]`)` → a native
  * `HadoopFsRelation` over [[GraftFileIndex]], keeping the node's output
  * attributes (exprIds) so references above stay valid.
  *
  * Runs in the user-optimization batch — AFTER analysis (so INSERT
  * statements, which Catalyst converts at analysis time via
  * `InsertableRelation`, never see a `HadoopFsRelation`) and BEFORE physical
  * planning (so `FileSourceStrategy` plans the vectorized parquet scan with
  * pushdown, partition pruning and our stats skipping).
  */
object GraftScanRewrite extends Rule[LogicalPlan] {

  /** Idempotently hook the rule into `spark.experimental.extraOptimizations`
    * (public API, mutable at runtime — no session-extension registration
    * needed at session build time). Installs [[GraftMetadataOnlyAggregate]]
    * alongside — both fire on graft scans only.
    */
  def install(spark: SparkSession): Unit = synchronized {
    val cur = spark.experimental.extraOptimizations
    val want = Seq(this, GraftMetadataOnlyAggregate).filterNot(r => cur.exists(_ eq r))
    if (want.nonEmpty) spark.experimental.extraOptimizations = cur ++ want
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case l: LogicalRelation if l.relation.isInstanceOf[GraftRelation] =>
      val g = l.relation.asInstanceOf[GraftRelation]
      val spark = g.sqlContext.sparkSession
      // graft a pre-optimized DataFrame plan in under a Project that
      // re-publishes the original output exprIds so references above stay
      // valid. The session resolver, not toLowerCase: under
      // caseSensitive=true a lowercased map would collapse columns
      // differing only by case.
      def graftUnder(sub: LogicalPlan): LogicalPlan = {
        import org.apache.spark.sql.catalyst.expressions.Alias
        import org.apache.spark.sql.catalyst.plans.logical.Project
        val resolver = spark.sessionState.conf.resolver
        val aliases = l.output.map { orig =>
          val n = sub.output.find(a => resolver(a.name, orig.name)).getOrElse(
            throw new IllegalStateException(
              s"graft scan rewrite: column ${orig.name} of ${g.path} vanished from " +
                "the current snapshot schema; refresh the cached plan"))
          Alias(n, orig.name)(exprId = orig.exprId, qualifier = orig.qualifier)
        }
        Project(aliases, sub)
      }
      g.resolveRead match {
        case Right(head) =>
          // LARGE table (past spark.graft.snapshot.driverFileLimit): never
          // fold the file list on the driver — the Dataset-backed read
          // (clean leg on LazyFileIndex, dv files on the masked leg)
          val table = GraftTable.forPath(spark, g.path)
          graftUnder(table.lazyReadDF(head).queryExecution.optimizedPlan)
        case Left(snap) =>
          if (snap.files.exists(_.dv.exists(_.cardinality > 0))) {
            // deletion vectors present: the scan needs the masked two-leg
            // plan (clean files plain, DV files anti-joined on row position)
            // — built as a DataFrame, pre-optimized (this batch runs AFTER
            // the pushdown batches)
            val table = GraftTable.forPath(spark, g.path)
            graftUnder(table.dfForFiles(snap, snap.files).queryExecution.optimizedPlan)
          } else {
            // a time-travel relation pins its snapshot; the file index then
            // never follows the log past the pinned version
            l.copy(relation = nativeRelation(spark, g.path,
              g.versionAsOf.map(_ => snap)))
          }
      }
  }

  /** The physical-read shape of the table at `path`: partition columns land
    * in `partitionSchema` (values come from the log, typed via cast), all
    * other columns in `dataSchema`. With `pinned` the relation reads
    * exactly that snapshot's file set (time travel / explicit candidate
    * subsets); without it the file index follows the log.
    */
  def nativeRelation(
      spark: SparkSession,
      path: String,
      pinned: Option[Snapshot] = None): HadoopFsRelation = {
    val snap = pinned.getOrElse(GraftTable.forPath(spark, path).snapshot)
    val schema = snap.schema
    val partCols = snap.metadata.partitionColumns
    val partitionSchema = StructType(partCols.flatMap(c => schema.fields.find(_.name == c)))
    val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val index = new GraftFileIndex(spark, path, partitionSchema, pinned)
    // column mapping: the FileFormat translates requested logical names to
    // the files' physical columns, at any nesting depth (None = identity
    // for unmapped tables — byte-identical stock path)
    val mapped =
      if (graft.tables.ColumnMapping.isMapped(schema)) Some(schema) else None
    HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new GraftParquetFileFormat(mapped), Map("path" -> path))(spark)
  }

  /** [[nativeRelation]]'s Dataset-backed sibling: the file index is a
    * [[LazyFileIndex]] pinned at the head's version, built from the segment
    * head alone — no driver-resident file list anywhere in the relation.
    */
  def lazyNativeRelation(
      spark: SparkSession,
      log: GraftLog,
      segHead: SegmentHead): HadoopFsRelation = {
    val schema = segHead.snapshot.schema
    val partCols = segHead.snapshot.metadata.partitionColumns
    val partitionSchema = StructType(partCols.flatMap(c => schema.fields.find(_.name == c)))
    val dataSchema = StructType(schema.fields.filterNot(f => partCols.contains(f.name)))
    val index = new LazyFileIndex(spark, log, partitionSchema, segHead)
    val mapped =
      if (graft.tables.ColumnMapping.isMapped(schema)) Some(schema) else None
    HadoopFsRelation(index, partitionSchema, dataSchema, None,
      new GraftParquetFileFormat(mapped), Map("path" -> log.tablePath))(spark)
  }
}

/** Metadata-only aggregates: an ungrouped, unfiltered `count(*)` /
  * `min(col)` / `max(col)` over a graft scan answers from the commit log's
  * per-file stats (`numRecords`, `minValues`/`maxValues`, partition
  * values) — zero data I/O, the analogue of Delta's
  * `OptimizeMetadataOnlyDeltaQuery`. At scale this turns the most common
  * sanity queries on a 10⁶-file table from full scans into a log fold the
  * snapshot already performed.
  *
  * Deliberately conservative — it fires ONLY when:
  *  - grouping is empty and EVERY aggregate in the list is a bare
  *    `count(*)`/`count(1)`, or a `min`/`max` of a plain column reference
  *    (no DISTINCT, no FILTER clause, no expressions);
  *  - the children between the aggregate and the relation are row-count-
  *    preserving `Project`s (any `Filter` disqualifies) and each min/max
  *    argument traces through them to a relation column;
  *  - the scan is a graft relation (either form: pre-rewrite
  *    [[GraftRelation]] or the native [[GraftFileIndex]] relation, pinned
  *    or log-following) whose files ALL carry stats and none has a live
  *    deletion vector (a DV scan masks rows — the masked row could BE the
  *    extreme);
  *  - min/max column types are integral/string/boolean/date/timestamp.
  *    Float/double are deliberately excluded: footer stats ordering for
  *    NaN/-0.0 disagrees with Spark's aggregate ordering (Spark sorts NaN
  *    greatest; parquet writers drop or misorder it), so a float answer
  *    from stats could be wrong, not just slower.
  *
  * Per-file null handling mirrors the aggregate it replaces: a file with
  * no min/max entry for the column contributes nothing iff its stats
  * PROVE all-null (`nullCount == numRecords`) — otherwise the rule bails;
  * an empty table (or all-null column) answers NULL exactly as the real
  * aggregate would.
  */
/** Executor-shippable core of the metadata-only aggregate: the per-file
  * stats interpretation and value ordering, shared VERBATIM by the
  * driver loop (`GraftMetadataOnlyAggregate.extreme`) and the distributed
  * fold (`answerLazy`) — a standalone serializable object, because a
  * lambda calling methods of the Rule module would drag the whole
  * (non-serializable) rule into the task closure.
  */
private[sources] object StatsFold extends Serializable {
  import org.apache.spark.sql.types.DataType

  /** Some(Some(v)) = contributes v; Some(None) = provably all-null file
    * (contributes nothing); None = unknown → the rule bails.
    */
  def perFileContribution(
      f: AddFile,
      st: graft.tables.FileStats,
      physical: String,
      dt: DataType,
      isPartition: Boolean,
      isMin: Boolean): Option[Option[Any]] = {
    if (st.numRecords == 0L) Some(None)
    else if (isPartition) {
      f.partitionValues.get(physical) match {
        case Some(TableWriter.HiveDefaultPartition) => Some(None)
        case Some(s) => graft.tables.FileSkipping.parseExternal(s, dt)
          .map(v => Some(v))
        case None => None
      }
    } else (if (isMin) st.minValues else st.maxValues).get(physical) match {
      case Some(s) => graft.tables.FileSkipping.parseStat(s, dt).map(v => Some(v))
      case None =>
        if (st.nullCount.get(physical).contains(st.numRecords)) Some(None) else None
    }
  }

  def compareVals(x: Any, y: Any): Int = (x, y) match {
    case (a: Long, b: Long)       => java.lang.Long.compare(a, b)
    case (a: String, b: String)   => graft.tables.Utf8Order.compare(a, b) // Spark/parquet order, NOT UTF-16
    case (a: Boolean, b: Boolean) => java.lang.Boolean.compare(a, b)
    case _ => sys.error(s"unexpected stat value pairing: $x / $y")
  }

  def pick(a: Any, b: Any, isMin: Boolean): Any = {
    val cmp = compareVals(a, b)
    if ((isMin && cmp <= 0) || (!isMin && cmp >= 0)) a else b
  }
}

object GraftMetadataOnlyAggregate extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeMap, NamedExpression}
  import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Max, Min}
  import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, Project}
  import org.apache.spark.sql.types._

  /** Where the per-file stats live: a driver-resident snapshot (the
    * default), or — past `spark.graft.snapshot.driverFileLimit` — the
    * Dataset view of the log, where the same stats aggregation runs as ONE
    * tiny Spark job over the checkpoint parquet ([[answerLazy]]). Without
    * the lazy case, `count(*)` on a 10⁶-file lazy table would regress from
    * a metadata answer to a full data scan — the exact query this rule
    * exists for.
    */
  private sealed trait StatSource { def head: Snapshot }
  private case class EagerSrc(snap: Snapshot) extends StatSource {
    def head: Snapshot = snap
  }
  private case class LazySrc(spark: SparkSession, log: GraftLog, segHead: SegmentHead)
      extends StatSource {
    def head: Snapshot = segHead.snapshot
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case agg: Aggregate
        if agg.groupingExpressions.isEmpty && agg.aggregateExpressions.nonEmpty &&
          agg.aggregateExpressions.forall(isAnswerable) =>
      source(agg.child) match {
        case Some((src, colOf)) =>
          val answered = src match {
            case EagerSrc(snap) => answerAll(agg.aggregateExpressions, snap, colOf)
            case l: LazySrc => answerLazy(agg.aggregateExpressions, l, colOf)
          }
          answered match {
            case Some(values) =>
              LocalRelation(agg.output.map(_.asInstanceOf[Attribute]),
                Seq(InternalRow.fromSeq(values)))
            case None => agg
          }
        case None => agg
      }
  }

  private def isAnswerable(ne: NamedExpression): Boolean = ne match {
    case Alias(ae: AggregateExpression, _)
        if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        case Count(Seq(l: Literal)) => l.value != null
        case Min(e)                 => pathedAttr(e).isDefined
        case Max(e)                 => pathedAttr(e).isDefined
        case _                      => false
      }
    case _ => false
  }

  /** A bare attribute or a GetStructField chain over one — nested struct
    * leaves carry per-file min/max too (struct-only paths, one value per
    * row), and parquet leaf stats range over NON-NULL values exactly like
    * SQL min/max, so `min(s.a)` answers from the log as exactly as
    * `min(a)`. Returns the root attribute plus the field-name suffix.
    */
  private def pathedAttr(e: Expression)
      : Option[(Attribute, Seq[String])] = e match {
    case a: Attribute => Some((a, Nil))
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      pathedAttr(g.child).map { case (a, p) => (a, p :+ g.extractFieldName) }
    case _ => None
  }

  /** Resolve `plan` to a graft snapshot plus the map from attribute to
    * underlying relation column name, through row-count-preserving
    * `Project`s (pass-through attributes and attribute aliases keep their
    * lineage; computed projections simply aren't min/max-resolvable).
    */
  private def source(plan: LogicalPlan)
      : Option[(StatSource, AttributeMap[String])] = plan match {
    case Project(projList, child) =>
      source(child).map { case (src, colOf) =>
        val mapped = projList.collect {
          case a: Attribute if colOf.contains(a) => a -> colOf(a)
          // attribute aliases AND struct-field extractions: the optimizer's
          // nested-column aliasing rewrites `min(s.a)` into
          // `min(_extract_a)` over `Project [s.a AS _extract_a]` before
          // this rule runs — track the alias back to its dotted leaf path
          case al @ Alias(e, _)
              if pathedAttr(e).exists { case (a, _) => colOf.contains(a) } =>
            val (a, rest) = pathedAttr(e).get
            al.toAttribute -> (colOf(a) +: rest).mkString(".")
        }
        (src, AttributeMap(mapped))
      }
    case l: LogicalRelation =>
      val srcOpt: Option[StatSource] = l.relation match {
        case g: GraftRelation =>
          // a limit-crossing table resolves to its head — folding it on the
          // driver at optimize time is the cost the lazy path removes
          Some(g.resolveRead match {
            case Right(head) => LazySrc(g.sqlContext.sparkSession, new GraftLog(g.path), head)
            case Left(snap)  => EagerSrc(snap)
          })
        case h: HadoopFsRelation =>
          h.location match {
            case gi: GraftFileIndex => Some(EagerSrc(gi.snapshotNow))
            case li: LazyFileIndex =>
              Some(LazySrc(SparkSession.active, li.log, li.segHead))
            case _ => None
          }
        case _ => None
      }
      srcOpt.map(src => (src, AttributeMap(l.output.map(a => a -> a.name))))
    case _ => None
  }

  /** All aggregate values from stats, or None if ANY is underivable (the
    * plan must stay whole — a half-answered aggregate can't split).
    */
  private def answerAll(
      aggs: Seq[NamedExpression],
      snap: Snapshot,
      colOf: AttributeMap[String]): Option[Seq[Any]] = {
    if (snap.files.exists(_.dv.exists(_.cardinality > 0))) return None
    val statsList = snap.files.map(f => graft.tables.GraftLog.parseStats(f.stats))
    if (statsList.exists(_.isEmpty)) return None
    val stats = snap.files.zip(statsList.flatten)
    def dotted(e: Expression): Option[String] = pathedAttr(e).flatMap {
      case (a, rest) => colOf.get(a).map(n => (n +: rest).mkString("."))
    }
    val values = aggs.map {
      case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
        case Count(_) => Some(stats.map(_._2.numRecords).sum: Any)
        case Min(e)   => extreme(snap, stats, dotted(e), isMin = true)
        case Max(e)   => extreme(snap, stats, dotted(e), isMin = false)
        case _        => None
      }
      case _ => None
    }
    if (values.exists(_.isEmpty)) None else Some(values.map(_.get))
  }

  /** Stats-derived min/max of a column as a Catalyst internal value
    * (boxed in Some; Some(null) = the aggregate's NULL over an empty or
    * all-null column). None = underivable → rule bails.
    */
  private def extreme(
      snap: Snapshot,
      stats: Seq[(AddFile, graft.tables.FileStats)],
      colName: Option[String],
      isMin: Boolean): Option[Any] = {
    val name = colName.getOrElse(return None)
    val parts = name.split('.').toSeq
    val field = graft.tables.ColumnMapping.fieldChain(snap.schema, parts)
      .map(_.last).getOrElse(return None)
    val dt = field.dataType
    if (!statsSafe(dt)) return None
    val isPartition = snap.metadata.partitionColumns.contains(name)
    // column mapping: stats and partition-value keys are the field's
    // PHYSICAL spelling (stable across renames; dotted for nested leaves)
    // — look up by it, exactly like FileSkipping's statKey, so
    // metadata-only min/max keeps firing after RENAME COLUMN
    val physical = graft.tables.ColumnMapping.physicalPath(snap.schema, parts)
      .getOrElse(return None)

    val perFile: Seq[Option[Option[Any]]] = stats.map { case (f, st) =>
      StatsFold.perFileContribution(f, st, physical, dt, isPartition, isMin)
    }
    if (perFile.exists(_.isEmpty)) return None
    val contributing = perFile.flatten.flatten
    if (contributing.isEmpty) return Some(null)
    // Exactness guard: parquet writers configured with
    // `parquet.statistics.truncate.length` record string min/max that are
    // only BOUNDS (a truncated prefix / its byte-incremented successor),
    // not values — and footers carry no marker saying so. graft stamps
    // `tightBounds=false` on stats it harvests from FOREIGN files
    // (CONVERT TO GRAFT, COMPUTE STATS backfill); skipping stays correct
    // with loose bounds, but ANSWERING a string min/max from one would be
    // a silent wrong result — bail to a real scan instead. (Numeric stats
    // cannot be truncated; they stay answerable.)
    if (dt == StringType && !isPartition &&
      stats.exists { case (_, st) => !st.tightBounds }) return None
    val best = contributing.reduce { (x, y) =>
      val cmp = compareVals(x, y)
      if ((isMin && cmp <= 0) || (!isMin && cmp >= 0)) x else y
    }
    Some(toInternal(best, dt))
  }

  /** Per-aggregate resolution shared by both answer paths: the dotted
    * logical name → (physical path, type, partition-ness), None when the
    * column's stats cannot answer exactly.
    */
  private case class ExtSpec(physical: String, dt: DataType,
      isPartition: Boolean, isMin: Boolean)

  private def resolveExt(head: Snapshot, colOf: AttributeMap[String],
      e: Expression, isMin: Boolean): Option[ExtSpec] = {
    val name = pathedAttr(e).flatMap { case (a, rest) =>
      colOf.get(a).map(n => (n +: rest).mkString("."))
    }.getOrElse(return None)
    val parts = name.split('.').toSeq
    val field = graft.tables.ColumnMapping.fieldChain(head.schema, parts)
      .map(_.last).getOrElse(return None)
    if (!statsSafe(field.dataType)) return None
    val physical = graft.tables.ColumnMapping.physicalPath(head.schema, parts)
      .getOrElse(return None)
    Some(ExtSpec(physical, field.dataType,
      head.metadata.partitionColumns.contains(name), isMin))
  }

  /** [[answerAll]] for a Dataset-backed source: the SAME per-file stats
    * interpretation ([[perFileContribution]]) folded by EXECUTORS over the
    * log's Dataset view — one tiny job over O(files) metadata instead of
    * either a driver fold (the heap the lazy path exists to avoid) or a
    * full data scan (what bailing would cost). Partials are (bail, count,
    * per-agg running extreme, loose-string flag); the driver reduces ≤
    * #partitions of them.
    */
  private def answerLazy(
      aggs: Seq[NamedExpression],
      src: LazySrc,
      colOf: AttributeMap[String]): Option[Seq[Any]] = {
    val head = src.head
    // spec encoding: None = count(*) (always answerable), Some = min/max.
    // Plain Option + case class, so executor-side pattern matches survive
    // closure serialization (a local case object would not).
    val specOpts: Seq[Option[Option[ExtSpec]]] = aggs.map {
      case Alias(ae: AggregateExpression, _) => ae.aggregateFunction match {
        case Count(_) => Some(None)
        case Min(e)   => resolveExt(head, colOf, e, isMin = true).map(s => Some(s))
        case Max(e)   => resolveExt(head, colOf, e, isMin = false).map(s => Some(s))
        case _        => None
      }
      case _ => None
    }
    if (specOpts.exists(_.isEmpty)) return None
    val specs: IndexedSeq[Option[ExtSpec]] = specOpts.flatten.toIndexedSeq

    implicit val enc = org.apache.spark.sql.Encoders.product[AddFile]
    val partials: Array[(Boolean, Long, Seq[Option[Any]], Boolean)] =
      graft.tables.DistributedSnapshot.addFilesDF(src.spark, src.log, src.segHead)
        .as[AddFile].rdd.mapPartitions { it =>
          var bail = false
          var count = 0L
          var loose = false
          val ext = Array.fill[Option[Any]](specs.size)(None)
          it.foreach { f =>
            if (!bail) {
              if (f.dv.exists(_.cardinality > 0)) bail = true
              else graft.tables.GraftLog.parseStats(f.stats) match {
                case None => bail = true
                case Some(st) =>
                  count += st.numRecords
                  if (!st.tightBounds) loose = true
                  specs.zipWithIndex.foreach {
                    case (None, _) => () // count(*): numRecords already summed
                    case (Some(s), i) =>
                      StatsFold.perFileContribution(f, st, s.physical, s.dt,
                        s.isPartition, s.isMin) match {
                        case None => bail = true
                        case Some(None) => ()
                        case Some(Some(v)) =>
                          ext(i) = Some(ext(i).fold(v)(
                            StatsFold.pick(_, v, s.isMin)))
                      }
                  }
              }
            }
          }
          Iterator.single((bail, count, ext.toSeq, loose))
        }.collect()
    if (partials.exists(_._1)) return None
    val count = partials.map(_._2).sum
    val loose = partials.exists(_._4)
    val values = specs.zipWithIndex.map {
      case (None, _) => count: Any
      case (Some(s), i) =>
        // same exactness guard as the eager path: loose string bounds
        // (foreign truncated footers) answer skipping, never aggregates
        if (s.dt == StringType && !s.isPartition && loose) return None
        val vals = partials.flatMap(_._3(i))
        if (vals.isEmpty) null
        else toInternal(vals.reduce(StatsFold.pick(_, _, s.isMin)), s.dt)
    }
    Some(values)
  }

  private def statsSafe(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         BooleanType | DateType | TimestampType => true
    case _ => false
  }

  private def compareVals(x: Any, y: Any): Int = StatsFold.compareVals(x, y)

  /** Canonical comparable (Long/String/Boolean from the parse helpers) →
    * Catalyst internal form for the column's type.
    */
  private def toInternal(v: Any, dt: DataType): Any = (v, dt) match {
    case (l: Long, ByteType)      => l.toByte
    case (l: Long, ShortType)     => l.toShort
    case (l: Long, IntegerType)   => l.toInt
    case (l: Long, LongType)      => l
    case (l: Long, DateType)      => l.toInt
    case (l: Long, TimestampType) => l
    case (s: String, StringType)  =>
      org.apache.spark.unsafe.types.UTF8String.fromString(s)
    case (b: Boolean, BooleanType) => b
    case _ => sys.error(s"unexpected stat value $v for ${dt.sql}")
  }
}

/** Read side is stock vectorized parquet; the write side throws — graft data
  * files are only ever produced through [[TableWriter]]'s staged-write +
  * commit protocol, and a direct file write into the table directory would
  * bypass the log and corrupt the table silently. (Unreachable through
  * normal resolution — INSERTs convert via [[GraftRelation.insert]] at
  * analysis time — this is a loud backstop, not a code path.)
  */
class GraftParquetFileFormat(
    /** The table's LOGICAL schema carrying the column-mapping metadata
      * (physical names pinned per field, at any nesting depth), for tables
      * with column mapping (RENAME/DROP COLUMN, top-level or nested
      * struct fields). None = identity (unmapped tables take the stock
      * path untouched). The translation happens HERE, at the reader
      * boundary: the relation's output keeps logical names, but the
      * parquet files carry physical ones — reading a renamed column
      * without this returns NULLs.
      */
    mappedSchema: Option[StructType] = None)
  extends ParquetFileFormat {

  override def prepareWrite(
      sparkSession: SparkSession,
      job: org.apache.hadoop.mapreduce.Job,
      options: Map[String, String],
      dataSchema: StructType): org.apache.spark.sql.execution.datasources.OutputWriterFactory =
    throw new UnsupportedOperationException(
      "direct file writes would bypass the graft commit log; use plain " +
        "INSERT INTO (no partition spec) or the GraftTable API")
  override def toString: String = "GraftParquet"

  import org.apache.spark.sql.types.{ArrayType, DataType, MapType}
  import graft.tables.ColumnMapping

  /** Translate a REQUESTED (possibly pruned) schema's names to physical by
    * matching each requested field against the table field of the same
    * logical name, recursively through structs (nested pruning may request
    * any subset, in any order — matching is by name, per level).
    */
  private def translate(requested: StructType, table: StructType): StructType = {
    val byName = table.fields.map(f => f.name.toLowerCase(java.util.Locale.ROOT) -> f).toMap
    StructType(requested.fields.map { rf =>
      byName.get(rf.name.toLowerCase(java.util.Locale.ROOT)) match {
        case Some(tf) => org.apache.spark.sql.types.StructField(
          ColumnMapping.physicalName(tf),
          translateType(rf.dataType, tf.dataType), rf.nullable, rf.metadata)
        case None => rf
      }
    })
  }

  private def translateType(requested: DataType, table: DataType): DataType =
    (requested, table) match {
      case (rs: StructType, ts: StructType) => translate(rs, ts)
      case (ArrayType(re, rn), ArrayType(te, _)) => ArrayType(translateType(re, te), rn)
      case (MapType(rk, rv, rn), MapType(tk, tv, _)) =>
        MapType(translateType(rk, tk), translateType(rv, tv), rn)
      case _ => requested
    }

  /** The physical spelling of a pushed-filter reference (dotted for nested
    * attributes) — a filter is only kept when the spelling is unchanged.
    */
  private def physicalRef(ref: String): String =
    mappedSchema.flatMap { s =>
      graft.tables.ColumnMapping.physicalPath(s, ref.split('.').toSeq)
    }.getOrElse(ref)

  /** Rows are POSITIONAL: renaming the requested fields to their physical
    * names (same order, same types, at every nesting level) makes the stock
    * reader produce exactly the logical row layout — no per-row rename-back
    * needed. Pushed filters referencing a mapped column are DROPPED rather
    * than translated: parquet pushdown is an optimization (the Filter node
    * above the scan re-applies every predicate), and a filter pushed under
    * the wrong name would prune row groups of a different column.
    */
  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    mappedSchema match {
      case None =>
        super.buildReaderWithPartitionValues(sparkSession, dataSchema,
          partitionSchema, requiredSchema, filters, options, hadoopConf)
      case Some(tableSchema) =>
        val keepFilters = filters.filterNot(
          _.references.exists(r => physicalRef(r) != r))
        super.buildReaderWithPartitionValues(sparkSession,
          translate(dataSchema, tableSchema), partitionSchema,
          translate(requiredSchema, tableSchema), keepFilters, options, hadoopConf)
    }
  }
}

/** Commit-log-backed [[FileIndex]]: the planner's source of truth for which
  * files a scan reads.
  *
  * - `listFiles` serves file statuses straight from the snapshot's `AddFile`
  *   entries (path, size already in the log) — zero filesystem listing.
  * - Partition pruning is EXACT: partition filters are bound by name to the
  *   partition schema and evaluated per partition-value tuple (Spark removes
  *   pruned partition filters from the post-scan Filter, so a conservative
  *   answer here would be a correctness bug, not a missed optimization).
  * - Data filters additionally prune via footer min/max stats
  *   ([[FileSkipping.filesMatching]] — conservative, a file is only dropped
  *   when its stats PROVE no row can match).
  *
  * The snapshot is re-resolved on every `listFiles`, so a cached relation
  * always reads current data.
  */
class GraftFileIndex(
    @transient private val spark: SparkSession,
    val tablePath: String,
    override val partitionSchema: StructType,
    pinned: Option[Snapshot] = None)
  extends FileIndex {

  private val sessionTz = spark.sessionState.conf.sessionLocalTimeZone
  private val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis

  @volatile private var cachedSnap: Snapshot = pinned.getOrElse(currentSnapshot())

  private def currentSnapshot(): Snapshot =
    GraftTable.forPath(spark, tablePath).snapshot

  override def rootPaths: Seq[Path] = Seq(graft.tables.Fs.toHadoopPath(tablePath))

  /** Pinned indexes (time travel, explicit file subsets) never move. */
  override def refresh(): Unit = if (pinned.isEmpty) cachedSnap = currentSnapshot()

  /** True when this index serves one frozen snapshot (never re-resolves). */
  private[graft] def isPinned: Boolean = pinned.isDefined

  /** The snapshot the next scan will read (pinned, or cached latest) —
    * what [[GraftMetadataOnlyAggregate]] answers from.
    */
  private[sources] def snapshotNow: Snapshot = cachedSnap

  override def sizeInBytes: Long = cachedSnap.sizeInBytes

  override def inputFiles: Array[String] =
    cachedSnap.files.map(f =>
      graft.tables.Fs.toUriString(GraftTable.resolveDataPath(tablePath, f.path))).toArray

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    refresh()
    val snap = cachedSnap
    // stats-based skipping on data filters (conservative — never wrong)
    val statsKept =
      if (dataFilters.isEmpty) snap.files
      else FileSkipping.filesMatching(snap, dataFilters,
        Some(graft.tables.BloomIndex.ProbeContext(spark, tablePath)))
    val keep = partitionPredicate(partitionFilters)
    statsKept.groupBy(_.partitionValues).iterator.flatMap { case (_, files) =>
      val values = partitionRow(files.head)
      if (keep(values))
        Some(PartitionDirectory(values, files.map(fileStatus).toArray))
      else None
    }.toSeq
  }

  /** Typed InternalRow of one file's partition values — delegates to the
    * shared interpretation ([[LazyFileIndex.partitionRow]]) so the two
    * file indexes cannot diverge on partition typing.
    */
  private def partitionRow(f: AddFile): InternalRow =
    LazyFileIndex.partitionRow(f, partitionSchema, sessionTz)

  /** Exact evaluator for the pushed partition filters — the shared
    * name-to-ordinal binding ([[LazyFileIndex.bindPartitionFilters]]:
    * loud on an unmatched attribute, exactness is a correctness
    * requirement), evaluated immediately on the driver here.
    */
  private def partitionPredicate(filters: Seq[Expression]): InternalRow => Boolean =
    LazyFileIndex.bindPartitionFilters(filters, partitionSchema, caseSensitive) match {
      case None => _ => true
      case Some(bound) =>
        val pred = Predicate.create(bound)
        pred.initialize(0)
        row => pred.eval(row)
    }

  private def fileStatus(f: AddFile): FileStatus =
    new FileStatus(f.size, false, 1, 128L * 1024 * 1024, 0L,
      graft.tables.Fs.toHadoopPath(GraftTable.resolveDataPath(tablePath, f.path)))
}

/** Pins every graft-backed relation inside a plan to the snapshot it would
  * read RIGHT NOW — after pinning, later commits to those tables are
  * invisible to the plan.
  *
  * Used by row-level DML for CORRELATED subqueries: the non-correlated ones
  * are localCheckpoint-materialized once, but a correlated plan cannot be
  * materialized without its join (it carries outer references), and left
  * live it would be evaluated in TWO jobs (touched-file scan, then the
  * rewrite frame) — a concurrent commit to the subquery's source tables in
  * between would delete/update with a mix of two predicate states. Pinning
  * the sources gives both jobs one consistent statement-start state (the
  * DML's target side is already snapshot-pinned).
  */
object GraftSourcePin {
  /** Pin every subquery inside `e` to ONE evaluation state: a
    * non-correlated subplan materializes once (localCheckpoint — cheapest
    * way to freeze a small set), a correlated one keeps its live plan with
    * its graft sources pinned via [[pinToCurrent]]. THE stability
    * discipline row-level DML shares — the UPDATE-side ExprCond and the
    * MERGE-side ExprFrag both delegate here, so a future fix to the
    * pinning rule cannot diverge them.
    */
  def pinSubqueries(
      spark: SparkSession,
      e: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    e.transform {
      case sub: SubqueryExpression if !sub.isCorrelated =>
        sub.withNewPlan(org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, sub.plan)
          .localCheckpoint(true).queryExecution.analyzed)
      case sub: SubqueryExpression if sub.isCorrelated =>
        sub.withNewPlan(pinToCurrent(spark, sub.plan))
    }
  }

  def pinToCurrent(spark: SparkSession, plan: LogicalPlan): LogicalPlan =
    plan transform {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation => h.location match {
          case gi: GraftFileIndex if !gi.isPinned =>
            lr.copy(relation = h.copy(location = new GraftFileIndex(
              spark, gi.tablePath, gi.partitionSchema, Some(gi.snapshotNow)))(spark))
          case _ => lr
        }
        // the pre-rewrite V1 relation follows the latest snapshot on every
        // scan — pin by version (same schema, deterministic file set);
        // latestVersion is a listing, NOT a fold — pinning must stay cheap
        // on limit-crossing tables
        case g: GraftRelation if g.versionAsOf.isEmpty =>
          lr.copy(relation = g.copy(versionAsOf =
            Some(new graft.tables.GraftLog(g.path).latestVersion())))
        case _ => lr
      }
    }
}
