package graft.tables

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Public handle to a versioned Parquet table — the Spark-native stand-in for
  * the `DeltaTable` + `DeltaLog` pair the reference manipulates
  * (`DeltaHelpers.scala:21`, `Type2Scd.scala:35`). Obtained via
  * [[GraftTable.forPath]] or created through [[GraftTable.create]].
  *
  * Reads construct a plain Parquet scan over exactly the snapshot's live
  * files, with the snapshot schema enforced (schema-evolved old files read
  * missing columns as null — SURVEY §7.5). All Catalyst optimizations
  * (pushdown, pruning, codegen, AQE) apply unchanged.
  */
class GraftTable private (val spark: SparkSession, val path: String) {

  // the path API self-installs the optimizer rules like the V1 source
  // paths do — a session that only ever touches GraftTable (no SQL, no
  // spark.read.format("graft")) otherwise planned count(*) on a 10⁶-file
  // table as a full scan because the metadata-only aggregate rule was
  // never registered (idempotent; a Seq-contains check when already in)
  graft.sources.GraftScanRewrite.install(spark)

  val log = new GraftLog(path)

  def snapshot: Snapshot = log.snapshot()

  def snapshotAt(version: Long): Snapshot = log.snapshot(version)

  def version: Long = log.latestVersion()

  /** The current snapshot's SCHEMA without folding the file list — the
    * log head (O(head lines) regardless of table size). For consumers that
    * need only the shape (stream-source creation, catalog resolution).
    */
  def schemaOnly: StructType = log.head().schema

  /** Current table contents as a DataFrame. */
  def toDF: DataFrame = toDFAt(-1L)

  /** Time-travel read (latest when `version` is negative). */
  def toDFAt(version: Long): DataFrame = resolveRead(version).fold(dfForSnapshot, lazyReadDF)

  /** One read resolution of `version` (latest when negative): one log
    * segment, its head pass, and the driver-file-limit verdict on it —
    * Right(head) reads through the Dataset-backed path, Left(snapshot) is
    * the driver fold of that same segment. An operation resolves once and
    * hands the result down: DML plans, skips and commits from it
    * ([[TableWriter.write]]'s `read`), and a query plan's scan relation and
    * file index are built from it.
    */
  private[graft] def resolveRead(version: Long): Either[Snapshot, SegmentHead] = {
    val head = log.replayHead(log.segment(version))
    if (GraftTable.lazyReadEligible(spark, log, head)) Right(head) else Left(log.fold(head))
  }

  /** The Dataset-backed read of one version — the large-table path behind
    * `spark.graft.snapshot.driverFileLimit` (default 100k files; see
    * [[graft.sources.LazyFileIndex]]). The driver holds the snapshot HEAD
    * (metadata/protocol — O(head lines)) plus, when the protocol carries
    * the deletionVectors feature, the dv-carrying subset for the masked
    * leg (O(dv files) — DVs mark recent row-level churn, a small fraction
    * of a 10⁶-file table between OPTIMIZE passes); the full live file
    * list never materializes here, and per-query skipping runs on
    * executors.
    */
  private[graft] def lazyReadDF(segHead: SegmentHead): DataFrame = {
    val head = segHead.snapshot
    val schema = head.schema
    val dvFiles: Seq[AddFile] =
      if (!head.protocol.readerFeatures.contains("deletionVectors")) Nil
      else {
        implicit val enc = org.apache.spark.sql.Encoders.product[AddFile]
        DistributedSnapshot.addFilesDF(spark, log, segHead).as[AddFile]
          .filter((f: AddFile) => f.dv.exists(_.cardinality > 0))
          .collect().toSeq
      }
    val rel = graft.sources.GraftScanRewrite.lazyNativeRelation(spark, log, segHead)
    val clean = org.apache.spark.sql.graft.SparkBridge.ofRelation(spark, rel)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
    if (dvFiles.isEmpty) clean
    else clean.unionByName(
      DeletionVectors.maskedRows(this, head.copy(files = dvFiles), dvFiles))
  }

  /** Build the scan for an explicit file subset of a snapshot (used by the
    * merge engine after file skipping — only candidate files are read).
    *
    * Planned over a commit-log-backed file index (not an explicit path
    * list), so the driver never re-stats files at plan time — listing a
    * million-file table costs a metadata lookup, not a filesystem walk —
    * and per-file footer stats prune further when the query carries
    * filters. Column order follows the snapshot schema (the relation
    * itself puts partition columns last, Hive-style).
    */
  def dfForFiles(snap: Snapshot, files: Seq[AddFile]): DataFrame = {
    val schema = snap.schema
    // deletion-vector files take the masked leg (anti-join on row position);
    // clean files — the overwhelming majority — stay on the plain scan and
    // pay nothing (see DeletionVectors)
    val (dvFiles, clean) = files.partition(_.dv.exists(_.cardinality > 0))
    def plain(fs: Seq[AddFile]): DataFrame =
      if (fs.isEmpty) {
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      } else {
        val rel = graft.sources.GraftScanRewrite.nativeRelation(
          spark, path, snap.copy(files = fs))
        org.apache.spark.sql.graft.SparkBridge.ofRelation(spark, rel)
          .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      }
    if (dvFiles.isEmpty) plain(files)
    else plain(clean).unionByName(DeletionVectors.maskedRows(this, snap, dvFiles))
  }

  def dfForSnapshot(snap: Snapshot): DataFrame = dfForFiles(snap, snap.files)

  /** Table metadata as a one-row DataFrame — analogue of `DeltaTable.detail()`
    * (reference `DeltaHelpers.scala:407-412`: reads `partitionColumns`,
    * `properties`, `location`, `numFiles`, `sizeInBytes`).
    */
  def detail(): DataFrame = {
    val s = snapshot
    val schema = StructType(Seq(
      StructField("format", StringType),
      StructField("location", StringType),
      StructField("partitionColumns", ArrayType(StringType)),
      StructField("properties", MapType(StringType, StringType)),
      StructField("numFiles", LongType),
      StructField("sizeInBytes", LongType),
      StructField("minReaderVersion", IntegerType),
      StructField("minWriterVersion", IntegerType),
      StructField("readerFeatures", ArrayType(StringType)),
      StructField("writerFeatures", ArrayType(StringType))
    ))
    val row = Row("parquet+graftlog", path, s.metadata.partitionColumns,
      s.metadata.properties, s.numFiles, s.sizeInBytes,
      s.protocol.minReaderVersion, s.protocol.minWriterVersion,
      s.protocol.readerFeatures, s.protocol.writerFeatures)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), schema)
  }

  /** File-level metadata (path, partitionValues, size, numRecords) as a
    * DataFrame — our analogue of `snapshot.filesWithStatsForScan`
    * (`DeltaHelpers.scala:212-219`), input to the size/record-distribution
    * helpers. Driver-materialized (O(files) rows, metadata only).
    */
  def filesDF: DataFrame = {
    import org.apache.spark.sql.functions._
    val s = snapshot
    val rows = s.files.map { f =>
      val stats = GraftLog.parseStats(f.stats)
      (f.path, f.partitionValues, f.size, stats.map(_.numRecords).getOrElse(-1L))
    }
    import spark.implicits._
    rows.toDF("path", "partitionValues", "size", "numRecords")
      .withColumn("partitionValues", map_from_entries(map_entries(col("partitionValues"))))
  }

  /** History newest-first: (version, timestamp, operation, operationParameters,
    * operationMetrics) — analogue of `deltaLog.history.getHistory`.
    */
  def history(): Seq[(Long, CommitInfo)] = log.history()

  def historyDF: DataFrame = {
    import spark.implicits._
    history().map { case (v, ci) =>
      (v, new java.sql.Timestamp(ci.timestamp), ci.operation, ci.operationParameters, ci.operationMetrics)
    }.toDF("version", "timestamp", "operation", "operationParameters", "operationMetrics")
  }

  /** Overwrite table contents (same schema rules as a fresh create). */
  def overwrite(df: DataFrame, operation: String = "WRITE",
      operationParameters: Map[String, String] = Map.empty): Long =
    TableWriter.write(spark, path, df, TableWriter.Overwrite,
      partitionColumns = snapshot.metadata.partitionColumns,
      operation = operation, operationParameters = operationParameters)

  /** Metadata-only commit updating table properties — analogue of
    * `ALTER TABLE ... SET TBLPROPERTIES` (used by CDF enable/disable
    * scenarios, reference `ChangeDataFeedHelperSpec.scala:207-208`).
    */
  def setProperties(props: Map[String, String]): Long =
    updateProperties(props, Set.empty, "SET TBLPROPERTIES")

  /** Analogue of `ALTER TABLE ... UNSET TBLPROPERTIES` (metadata-only). */
  def unsetProperties(keys: Set[String]): Long =
    updateProperties(Map.empty, keys, "UNSET TBLPROPERTIES")

  /** ALTER TABLE ADD COLUMNS: widen the schema by `cols` in a metadata-only
    * commit — no file is touched; existing files read the new columns as
    * null (the same old-files-as-null rule schema-merging appends rely on).
    * Rejects a column that already exists (case-insensitively).
    */
  def addColumns(cols: org.apache.spark.sql.types.StructType): Long = {
    require(cols.nonEmpty, "ADD COLUMNS needs at least one column")
    val inListDup = cols.fieldNames.groupBy(_.toLowerCase).collect {
      case (_, names) if names.length > 1 => names.head
    }
    require(inListDup.isEmpty,
      s"ADD COLUMNS lists column(s) more than once: ${inListDup.mkString(", ")}")
    Transaction.alter(log, "ADD COLUMNS") { s =>
      // re-validate per attempt: a concurrent winner may have added one
      val existing = s.schema.fieldNames.map(_.toLowerCase).toSet
      val dup = cols.fieldNames.filter(c => existing.contains(c.toLowerCase))
      require(dup.isEmpty, s"column(s) ${dup.mkString(", ")} already exist in $path")
      // a re-added logical name whose physical name was ever used (live or
      // retired by DROP COLUMN) mints a fresh physical name — old files'
      // bytes must not resurface under the new column
      val assigned = ColumnMapping.assignPhysicalNames(
        s.schema, cols.fields.toSeq, s.metadata.properties)
      val widened = org.apache.spark.sql.types.StructType(s.schema.fields ++ assigned)
      (
        graft.tables.Metadata(widened.json, s.metadata.partitionColumns, s.metadata.properties),
        Map("columns" -> cols.fieldNames.mkString("[", ",", "]")))
    }
  }

  /** ALTER TABLE ADD COLUMNS with a NESTED target: append `col` to the
    * struct at `parentPath` — metadata-only like top-level ADD; existing
    * files read the new field as null. A logical name colliding with a live
    * or retired physical name inside that struct mints a fresh physical
    * name (dropped nested bytes never resurface).
    */
  def addNestedColumn(parentPath: Seq[String], col: org.apache.spark.sql.types.StructField): Long = {
    require(parentPath.nonEmpty, "ADD COLUMNS nested target needs a parent path")
    Transaction.alter(log, "ADD COLUMNS") { s =>
      val chain = ColumnMapping.fieldChain(s.schema, parentPath).getOrElse(
        throw new IllegalArgumentException(
          s"struct ${parentPath.mkString(".")} does not exist in $path"))
      val st = chain.last.dataType match {
        case t: StructType => t
        case other => throw new IllegalArgumentException(
          s"${parentPath.mkString(".")} is ${other.simpleString}, not a struct — " +
            "cannot add a field inside it")
      }
      require(!st.fields.exists(_.name.equalsIgnoreCase(col.name)),
        s"column ${(parentPath :+ col.name).mkString(".")} already exists in $path")
      val parentPhys = ColumnMapping.physicalPath(s.schema, parentPath).get
      val retiredHere = ColumnMapping.droppedPhysicals(s.metadata.properties)
        .filter(_.toLowerCase.startsWith(parentPhys.toLowerCase + "."))
        .map(_.substring(parentPhys.length + 1).toLowerCase)
        .filterNot(_.contains('.')) // direct children of this struct only
      val livePhys = st.fields.map(f => ColumnMapping.physicalName(f).toLowerCase).toSet
      val assigned =
        if (livePhys.contains(col.name.toLowerCase) || retiredHere.contains(col.name.toLowerCase))
          ColumnMapping.withPhysicalName(col, s"col_${java.util.UUID.randomUUID()}")
        else col
      val widened = ColumnMapping.updateFieldAt(s.schema, parentPath) { f =>
        Some(f.copy(dataType = StructType(st.fields :+ assigned)))
      }
      (
        graft.tables.Metadata(widened.json, s.metadata.partitionColumns, s.metadata.properties),
        Map("columns" -> s"[${(parentPath :+ col.name).mkString(".")}]"))
    }
  }

  /** ALTER TABLE RENAME COLUMN — METADATA-ONLY via column mapping: the
    * field keeps its immutable PHYSICAL name (pinned into field metadata),
    * only the logical name changes, and not one data byte moves — at 100 TB
    * that is the entire point (see [[ColumnMapping]]). Renames of columns
    * referenced by CHECK constraints, bloom indexes or clusterBy are
    * rejected (retarget or drop those first); partition columns rename fine
    * (the partition-values keys in the log are physical and stable).
    */
  def renameColumn(existing: String, newName: String): Long = {
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"invalid column name '$newName'")
    // dotted = NESTED struct field (`s.a` renames field a of struct s) —
    // same metadata-only mechanics: the nested field's physical name pins
    // into its own metadata, the read/write boundaries relabel via
    // positional struct casts, and not one data byte moves
    val parts = existing.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "empty column name")
    Transaction.alter(log, "RENAME COLUMN") { s =>
      val schema = s.schema
      val chain = ColumnMapping.fieldChain(schema, parts).getOrElse(
        throw new IllegalArgumentException(
          s"column $existing does not exist in $path" +
            (if (parts.length > 1)
               " (nested paths descend structs by field name and arrays/maps " +
                 "by element/key/value)"
             else "")))
      require(!ColumnMapping.lastStepIsContainer(schema, parts),
        s"the ${parts.last} of an array/map has no named identity to rename — " +
          s"rename a struct field inside it instead (e.g. $existing.<field>)")
      val siblings: Seq[String] =
        if (parts.length == 1) schema.fieldNames.toSeq
        else chain(chain.length - 2).dataType.asInstanceOf[StructType].fieldNames.toSeq
      require(!siblings.exists(_.equalsIgnoreCase(newName)),
        s"column ${(parts.init :+ newName).mkString(".")} already exists in $path")
      val refs = ColumnMapping.propertyReferences(spark, s.metadata.properties, existing)
      require(refs.isEmpty,
        s"cannot rename $existing: referenced by ${refs.mkString("; ")} — " +
          "drop or retarget those first")
      val widened = ColumnMapping.updateFieldAt(schema, parts) { f =>
        Some(ColumnMapping
          .withPhysicalName(f, ColumnMapping.physicalName(f)).copy(name = newName))
      }
      val newParts = s.metadata.partitionColumns.map(c =>
        if (parts.length == 1 && c.equalsIgnoreCase(existing)) newName else c)
      (
        graft.tables.Metadata(widened.json, newParts,
          s.metadata.properties + (ColumnMapping.ModeProperty -> "name")),
        Map("from" -> existing, "to" -> newName))
    }
  }

  /** ALTER TABLE ALTER COLUMN <c> TYPE <wider> — METADATA-ONLY explicit
    * type widening (Delta's ALTER COLUMN TYPE): the schema field widens to
    * a LOSSLESS upcast the vectorized parquet reader performs natively
    * (byte/short/int → int/long/double, float → double — the same matrix
    * schema-merge widening uses), and not one data byte moves; old files'
    * narrower values upcast at scan time. The commit turns on
    * `graft.enableTypeWidening`, which brands the `typeWidening`
    * reader/writer features so pre-widening builds fail loudly instead of
    * mis-reading narrow files. Partition columns widen fine (their values
    * re-parse from the dir strings at the new type).
    */
  def widenColumnType(name: String, newType: org.apache.spark.sql.types.DataType): Long = {
    // dotted = NESTED struct field — the same per-leaf reader upcast the
    // top-level widen rides (the vectorized reader resolves schema
    // evolution leaf by leaf, so nesting depth does not change the rule)
    val parts = name.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "empty column name")
    Transaction.alter(log, "ALTER COLUMN TYPE") { s =>
      val chain = ColumnMapping.fieldChain(s.schema, parts).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist in $path" +
            (if (parts.length > 1)
               " (nested paths descend structs by field name and arrays/maps " +
                 "by element/key/value)"
             else "")))
      val f = chain.last
      require(f.dataType != newType,
        s"column $name already has type ${newType.simpleString}")
      require(TableWriter.widensTo(f.dataType, newType),
        s"cannot change $name: ${f.dataType.simpleString} -> " +
          s"${newType.simpleString} is not a lossless widen this build's " +
          "parquet reader upcasts natively (widen to int/long/double per the " +
          "type-widening matrix; narrowing and string/decimal changes need a " +
          "rewrite)")
      val widened = ColumnMapping.updateFieldAt(s.schema, parts)(
        of => Some(of.copy(dataType = newType)))
      (
        graft.tables.Metadata(widened.json, s.metadata.partitionColumns,
          s.metadata.properties + (TableWriter.TypeWideningProperty -> "true")),
        Map("column" -> name,
          "from" -> f.dataType.simpleString, "to" -> newType.simpleString))
    }
  }

  /** ALTER TABLE ... ALTER COLUMN <c> SET NOT NULL / DROP NOT NULL —
    * toggle the column's nullability invariant (Delta's statement pair).
    * DROP is metadata-only. SET must prove the EXISTING rows satisfy the
    * invariant first: per-file footer `nullCount` when every live file
    * carries one for the column and none is DV-masked (a masked row could
    * be the null — and for a NESTED leaf the footer counts nulls-via-null-
    * ancestor too, which the invariant permits), otherwise one real scan
    * of `ancestors NOT NULL AND leaf IS NULL`. Enforcement of future
    * writes rides the write projection (TableWriter) and the streaming
    * epoch writers.
    */
  def setColumnNullability(name: String, nullable: Boolean): Long = {
    import org.apache.spark.sql.functions.{col, lit}
    val parts = name.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
    require(parts.nonEmpty, "empty column name")
    val op = if (nullable) "DROP NOT NULL" else "SET NOT NULL"
    Transaction.alter(log, op) { s =>
      val chain = ColumnMapping.fieldChain(s.schema, parts).getOrElse(
        throw new IllegalArgumentException(s"column $name does not exist in $path"))
      if (chain.last.nullable == nullable)
        throw new IllegalArgumentException(
          s"column $name is already ${if (nullable) "nullable" else "NOT NULL"}")
      if (!nullable) {
        val physPath = chain.map(ColumnMapping.physicalName).mkString(".")
        val stats = s.files.map(f => (f, GraftLog.parseStats(f.stats)))
        val footerKnown = stats.forall { case (f, st) =>
          f.dv.forall(_.cardinality == 0) && st.exists(_.nullCount.contains(physPath))
        }
        val footerZero =
          footerKnown && stats.forall(_._2.exists(_.nullCount(physPath) == 0L))
        val nullFree =
          if (footerZero) true
          else if (footerKnown && parts.lengthCompare(1) == 0) false
          else {
            // scan fallback: nested leaves permit nulls-via-null-ancestor,
            // DV-masked files need live-row evaluation, and files missing
            // the column's stats need real bytes
            val ancestorsNotNull = (1 until parts.length)
              .map(i => col(parts.take(i).mkString(".")).isNotNull)
              .foldLeft(lit(true))(_ && _)
            spark.read.format("graft").option("versionAsOf", s.version)
              .load(path)
              .where(ancestorsNotNull && col(name).isNull)
              .isEmpty
          }
        require(nullFree,
          s"cannot SET NOT NULL on $name: existing rows are null there — " +
            "clean them up (UPDATE/DELETE) first")
      }
      val updated = ColumnMapping.updateFieldAt(s.schema, parts)(
        of => Some(of.copy(nullable = nullable)))
      (
        graft.tables.Metadata(updated.json, s.metadata.partitionColumns,
          s.metadata.properties),
        Map("column" -> name))
    }
  }

  /** ALTER TABLE ... ALTER COLUMN <c> SYNC IDENTITY (Delta's statement):
    * re-seat the identity column's high-water mark on the table's ACTUAL
    * extremum. Identity here is GENERATED BY DEFAULT — an explicit insert
    * passes its values through untouched and can overtake the
    * transactional mark, so the next generated range would collide; sync
    * realigns the mark. The extremum is `max(col)` for a positive step,
    * `min(col)` for a negative one — answered from per-file log stats by
    * the metadata-only aggregate rule when every file carries them (zero
    * data I/O on graft-written tables; files missing the column's stats
    * fall back to a real scan automatically). The mark only ever ADVANCES:
    * an extremum behind it (rows deleted since) leaves it alone, because
    * re-issuing freed values would collide with rows generated since the
    * deletion. Empty/all-null columns change nothing.
    *
    * @param columns identity columns to sync; empty = all of them
    * @return the committed version (current version when no mark moved)
    */
  def syncIdentity(columns: Seq[String] = Nil): Long = {
    import org.apache.spark.sql.functions.{col => sqlCol, max => sqlMax, min => sqlMin}
    val declared = GraftTable.identityColumnsOf(snapshot.metadata.properties)
    require(declared.nonEmpty, s"$path has no identity columns to sync")
    val targets =
      if (columns.isEmpty) declared.keys.toSeq.sorted
      else columns.map { c =>
        declared.keys.find(_.equalsIgnoreCase(c)).getOrElse(
          throw new IllegalArgumentException(
            s"column $c of $path is not an identity column " +
              s"(identity columns: ${declared.keys.toSeq.sorted.mkString(", ")})"))
      }
    // no-op escape: when no mark needs to move, commit nothing and report
    // the current version (an empty commit would be log noise per sync)
    case class NoMarkMoved(version: Long) extends Exception
    try Transaction.alter(log, "SYNC IDENTITY") { s =>
      val defs = GraftTable.identityColumnsOf(s.metadata.properties)
      val aggs = targets.map { c =>
        val (_, step) = defs(c)
        (if (step > 0) sqlMax(sqlCol(c)) else sqlMin(sqlCol(c)))
          .cast("long").as(c)
      }
      val row = spark.read.format("graft")
        .option("versionAsOf", s.version).load(path)
        .agg(aggs.head, aggs.tail: _*).first()
      val advanced = targets.zipWithIndex.flatMap { case (c, i) =>
        if (row.isNullAt(i)) None
        else {
          val (start, step) = defs(c)
          val extremum = row.getLong(i)
          val mark = s.metadata.properties
            .get(GraftTable.identityHighKey(c)).map(_.toLong)
          val ahead = mark match {
            case Some(m) => if (step > 0) extremum > m else extremum < m
            case None    => if (step > 0) extremum >= start else extremum <= start
          }
          if (ahead) Some(GraftTable.identityHighKey(c) -> extremum.toString)
          else None
        }
      }
      if (advanced.isEmpty) throw NoMarkMoved(s.version)
      (
        graft.tables.Metadata(s.metadata.schemaJson,
          s.metadata.partitionColumns,
          s.metadata.properties ++ advanced),
        Map("columns" -> targets.mkString(",")))
    }
    catch { case NoMarkMoved(v) => v }
  }

  /** ALTER TABLE DROP COLUMN(S) — metadata-only: the fields leave the
    * schema (scans simply stop selecting their physical columns; bytes are
    * reclaimed when files are next rewritten), and their physical names are
    * RETIRED so a later column with the same logical name mints a fresh
    * physical name instead of resurrecting the old bytes.
    */
  def dropColumns(names: Seq[String]): Long = {
    require(names.nonEmpty, "DROP COLUMN needs at least one column")
    Transaction.alter(log, "DROP COLUMNS") { s =>
      val schema = s.schema
      // dotted = NESTED struct field; its retired key is the dotted
      // PHYSICAL path, so a later re-add of the same logical name inside
      // that struct mints a fresh physical name (old bytes never resurface)
      var current = schema
      val retiring = scala.collection.mutable.ListBuffer[String]()
      names.foreach { n =>
        val parts = n.split('.').toSeq.map(_.trim).filter(_.nonEmpty)
        require(parts.nonEmpty, "empty column name")
        require(ColumnMapping.fieldChain(current, parts).isDefined,
          s"column $n does not exist in $path" +
            (if (parts.length > 1)
               " (nested paths descend structs by field name and arrays/maps " +
                 "by element/key/value)"
             else ""))
        require(!ColumnMapping.lastStepIsContainer(current, parts),
          s"cannot drop the ${parts.last} of an array/map — " +
            "drop the container column instead")
        require(!(parts.length == 1 && s.metadata.partitionColumns.exists(_.equalsIgnoreCase(n))),
          s"cannot drop partition column $n")
        val refs = ColumnMapping.propertyReferences(spark, s.metadata.properties, n)
        require(refs.isEmpty,
          s"cannot drop $n: referenced by ${refs.mkString("; ")} — drop or " +
            "retarget those first")
        retiring += ColumnMapping.physicalPath(current, parts).get
        current = ColumnMapping.updateFieldAt(current, parts)(_ => None)
        if (parts.length > 1) {
          val parentNonEmpty = ColumnMapping.fieldChain(current, parts.init)
            .exists(_.last.dataType match {
              case st: StructType => st.fields.nonEmpty
              case _ => false
            })
          require(parentNonEmpty,
            s"cannot drop the last field of struct ${parts.init.mkString(".")} — " +
              "drop the struct column itself instead")
        }
      }
      require(current.fields.nonEmpty, s"cannot drop every column of $path")
      val retired = ColumnMapping.droppedPhysicals(s.metadata.properties) ++ retiring
      (
        graft.tables.Metadata(current.json, s.metadata.partitionColumns,
          s.metadata.properties +
            (ColumnMapping.ModeProperty -> "name") +
            (ColumnMapping.DroppedProperty -> retired.toSeq.sorted.mkString(","))),
        Map("columns" -> names.mkString("[", ",", "]")))
    }
  }

  private def updateProperties(
      merge: Map[String, String], remove: Set[String], operation: String): Long =
    Transaction.alter(log, operation) { s =>
      // setting the stats-columns knob validates NOW, not at the next
      // write — a typo'd column would otherwise silently disable stats for
      // every write until someone notices the skipping stopped
      if (merge.contains(ParquetStats.StatsColumnsProperty)) {
        ParquetStats.statsColumnsOf(merge, s.schema); ()
      }
      (
        graft.tables.Metadata(s.metadata.schemaJson, s.metadata.partitionColumns,
          (s.metadata.properties -- remove) ++ merge),
        Map("properties" -> (merge ++ remove.map(_ -> "<removed>")).toString))
    }

  /** ADD CONSTRAINT (Delta's `ALTER TABLE ... ADD CONSTRAINT name CHECK
    * (predicate)`): stores the predicate as table property
    * `graft.constraints.<name>`; every subsequent write enforces it ROW BY
    * ROW inside the write projection itself (no extra pass — see
    * TableWriter), failing the commit on the first violating row. NULL
    * predicates pass (SQL CHECK semantics). The EXISTING rows are validated
    * here first — a constraint the current table violates is rejected.
    */
  def addCheckConstraint(name: String, predicate: String): Long = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"constraint name must be alphanumeric/underscore, got '$name'")
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    // validate-then-commit, atomically per attempt: a lost version race
    // means rows may have changed since the scan, so each retry RE-VALIDATES
    // against the fresh snapshot before reapplying (a blind property retry
    // could commit the constraint over a concurrently appended violator)
    Transaction.alter(log, "ADD CONSTRAINT") { s =>
      if (GraftTable.constraintsOf(s.metadata.properties).contains(name))
        throw new IllegalArgumentException(
          s"CHECK constraint $name already exists on $path; drop it first " +
            "(silently replacing a constraint would weaken it unnoticed)")
      val violations = dfForSnapshot(s)
        .filter(not(coalesce(expr(predicate), lit(true)))).limit(1).count()
      if (violations > 0)
        throw new IllegalArgumentException(
          s"cannot add CHECK constraint $name ($predicate): existing rows of $path violate it")
      (
        graft.tables.Metadata(s.metadata.schemaJson, s.metadata.partitionColumns,
          s.metadata.properties +
            (GraftTable.ConstraintPropertyPrefix + name -> predicate)),
        Map("name" -> name, "expr" -> predicate))
    }
  }

  /** DROP CONSTRAINT: removes the `graft.constraints.<name>` property;
    * loud when no such constraint exists (a misspelled drop must not leave
    * the operator believing enforcement was lifted).
    */
  def dropCheckConstraint(name: String): Long = {
    if (!checkConstraints.contains(name))
      throw new IllegalArgumentException(
        s"no CHECK constraint named $name on $path (have: " +
          s"${checkConstraints.keys.toSeq.sorted.mkString(", ")})")
    updateProperties(Map.empty,
      Set(GraftTable.ConstraintPropertyPrefix + name), "DROP CONSTRAINT")
  }

  /** The table's CHECK constraints, by name. */
  def checkConstraints: Map[String, String] =
    GraftTable.constraintsOf(snapshot.metadata.properties)

  /** Append rows (mergeSchema semantics: unseen columns extend the schema). */
  def append(df: DataFrame, operation: String = "WRITE",
      operationParameters: Map[String, String] = Map.empty,
      extraMetrics: Map[String, String] = Map.empty): Long =
    TableWriter.write(spark, path, df, TableWriter.Append,
      operation = operation, operationParameters = operationParameters,
      extraMetrics = extraMetrics)

  /** Latest committed [[SetTransaction]] watermark for `appId`, or None if
    * that writer never committed — Delta's `txnVersion` idempotence probe.
    */
  def txnVersion(appId: String): Option[Long] = snapshot.transactions.get(appId)
}

object GraftTable {

  /** Property namespace for CHECK constraints (Delta: `delta.constraints.*`). */
  val ConstraintPropertyPrefix = "graft.constraints."

  /** True when a log-recorded data-file path is an EXTERNAL reference (a
    * [[shallowClone]] pointer into the source table's directory) rather
    * than table-relative: an absolute local path, or a full URI for tables
    * on remote schemes. One predicate shared by path resolution and
    * vacuum's never-delete-external rule, so the convention cannot drift.
    */
  def isExternalPath(p: String): Boolean = p.startsWith("/") || Fs.hasScheme(p)

  /** Resolve a log-recorded data-file path: table-relative normally;
    * absolute for external references (see [[isExternalPath]]). Returns a
    * path STRING in the table path's scheme ([[Fs]] rules).
    */
  def resolveDataPath(tablePath: String, p: String): String =
    if (isExternalPath(p)) p
    else Fs.child(tablePath, p)

  /** SHALLOW CLONE (Delta's `CLONE ... SHALLOW`): a new table at `destPath`
    * whose version 0 references the SOURCE's current data files by absolute
    * path — zero data copied, metadata-only, O(files) log lines. The clone
    * then evolves independently: writes land as normal relative files in
    * its own directory, and rewrites (merge/delete/OPTIMIZE) replace
    * external references with local files. The clone's vacuum never deletes
    * an external file (they belong to the source); the source's vacuum,
    * however, CAN remove files the clone still references — keep the source
    * retention ≥ the clone's lifetime, exactly Delta's shallow-clone
    * caveat. Bloom sidecar pointers are stripped (they reference the
    * source's `_bloom` dir): probes keep cloned files conservatively.
    */
  def shallowClone(spark: SparkSession, sourcePath: String, destPath: String,
      asOfVersion: Option[Long] = None): GraftTable = {
    val src = forPath(spark, sourcePath)
    // CLONE ... VERSION AS OF: pin the cloned state to a historical version
    // (a zero-copy dev/test fork of yesterday's table)
    val snap = asOfVersion.map(src.log.snapshot(_)).getOrElse(src.snapshot)
    require(!exists(destPath), s"cannot clone into $destPath: a graft table already exists there")
    val srcRoot =
      if (Fs.isRemote(sourcePath)) Fs.normalize(sourcePath)
      else new java.io.File(sourcePath).getAbsolutePath
    val external = snap.files.map { f =>
      val stats = GraftLog.parseStats(f.stats)
        .map(s => GraftLog.renderStats(s.copy(bloom = Map.empty, bloomSidecar = None)))
        .getOrElse(f.stats)
      f.copy(path = resolveDataPath(srcRoot, f.path), stats = stats,
        // dv sidecars live in the SOURCE's _dv dir — absolutize like the
        // data path so the clone keeps masking deleted rows
        dv = f.dv.map(d => d.copy(path = resolveDataPath(srcRoot, d.path))))
    }
    val copyMemory = cloneCopyIntoMemory(spark, src.log, srcRoot, snap.version, destPath)
    val log = new GraftLog(destPath)
    Fs.mkdirs(destPath)
    Transaction.create(log, snap.metadata, external,
      CommitInfo(System.currentTimeMillis(), "CLONE",
        operationParameters = Map(
          "source" -> srcRoot, "sourceVersion" -> snap.version.toString,
          "isShallow" -> "true") ++ copyMemory,
        operationMetrics = Map(
          "numFiles" -> external.size.toString,
          "numOutputRows" -> external.flatMap(a => GraftLog.parseStats(a.stats))
            .map(_.numRecords).sum.toString,
          "numOutputBytes" -> external.map(_.size).sum.toString)),
      protocol = Some(snap.protocol))
    new GraftTable(spark, destPath)
  }

  /** DEEP CLONE (Delta's `CLONE` without `SHALLOW`): a new independent
    * table at `destPath` holding byte-identical COPIES of the source's data
    * files — no decode, no recompression, no shuffle; per-file stats
    * (min/max/nullCount/numRecords), partition values, deletion-vector
    * sidecars and bloom sidecars all carry over verbatim, so the clone
    * skips files exactly as well as the source did from commit 0. Unlike
    * [[graft.operators.GraftHelpers.copyTable]] (a read→write rewrite that
    * re-encodes every row), the copy is a pure byte transfer.
    *
    * Scale: the file copies run DISTRIBUTED — one Spark job over the file
    * list, each task streaming one file through the Hadoop FileSystem API
    * (cross-filesystem capable: local→s3a, s3a→s3a server-side where the
    * connector supports it). The driver holds only the O(files) plan.
    * Copies are idempotent (overwrite on task retry) and the destination
    * log is written only AFTER every byte landed — a failed clone leaves
    * no readable table, and re-running overwrites the partial files.
    *
    * A deep clone of a SHALLOW clone materializes the external references:
    * external files land under `cloned-<version>/` in the destination (the
    * log's partitionValues, not directory names, carry partitioning — the
    * flattened layout does not affect pruning).
    */
  def deepClone(spark: SparkSession, sourcePath: String, destPath: String,
      asOfVersion: Option[Long] = None): GraftTable = {
    val src = forPath(spark, sourcePath)
    val snap = asOfVersion.map(src.log.snapshot(_)).getOrElse(src.snapshot)
    require(!exists(destPath), s"cannot clone into $destPath: a graft table already exists there")
    val srcRoot =
      if (Fs.isRemote(sourcePath)) Fs.normalize(sourcePath)
      else new java.io.File(sourcePath).getAbsolutePath
    val destRoot =
      if (Fs.isRemote(destPath)) Fs.normalize(destPath)
      else new java.io.File(destPath).getAbsolutePath

    // copy plan: data files keep their table-relative path (partition dirs
    // intact); external references (shallow-clone sources) flatten into a
    // collision-proofed cloned-<v>/ dir. Sidecar DIRECTORIES (_dv/<id>,
    // _bloom/<id>) copy recursively under the same relative id, remapped
    // when the reference was external.
    val pairs = Seq.newBuilder[(String, String)] // (absolute src, absolute dest)
    def planDir(srcAbsDir: String, destRelDir: String): Unit =
      Fs.walkFiles(srcAbsDir).foreach { f =>
        // hidden artifacts (Hadoop checksum `.part-*.crc`/`._SUCCESS.crc`,
        // editor droppings) stay out of the plan: the local
        // ChecksumFileSystem RECREATES the crc sidecar as a side effect of
        // copying its data file, racing the task that raw-copies and
        // length-verifies the same crc — a spurious clone failure. Checksums
        // are regenerable; `_SUCCESS` markers are not table state.
        if (!Fs.fileName(f).startsWith(".")) {
          val rel = Fs.relativize(srcAbsDir, f)
          pairs += ((f, Fs.child(Fs.child(destRoot, destRelDir), rel)))
        }
      }
    val dvRemap = scala.collection.mutable.Map.empty[String, String]
    def planDv(dvPath: String): String = dvRemap.getOrElseUpdate(dvPath, {
      val rel =
        if (isExternalPath(dvPath))
          Fs.child(DeletionVectors.DirName, s"cloned-${snap.version}-${dvRemap.size}")
        else dvPath
      planDir(resolveDataPath(srcRoot, dvPath), rel)
      rel
    })
    val bloomRemap = scala.collection.mutable.Map.empty[String, String]
    def planBloom(sidecarId: String): String = bloomRemap.getOrElseUpdate(sidecarId, {
      // stats carry the bare sidecar ID under `_bloom/` (shallow clones
      // strip them, so the source dir always resolves table-relative);
      // keep the id so the stats reference stays valid in the clone
      val rel = Fs.child(BloomIndex.SidecarDirName, sidecarId)
      planDir(Fs.child(srcRoot, rel), rel)
      sidecarId
    })
    val cloned = snap.files.zipWithIndex.map { case (f, i) =>
      val destRel =
        if (isExternalPath(f.path)) s"cloned-${snap.version}/part-$i-${Fs.fileName(f.path)}"
        else f.path
      pairs += ((resolveDataPath(srcRoot, f.path), Fs.child(destRoot, destRel)))
      val stats = GraftLog.parseStats(f.stats) match {
        case Some(s) if s.bloomSidecar.isDefined =>
          GraftLog.renderStats(s.copy(bloomSidecar = s.bloomSidecar.map(planBloom)))
        case _ => f.stats
      }
      f.copy(path = destRel, stats = stats,
        dv = f.dv.map(d => d.copy(path = planDv(d.path))))
    }

    // distributed byte copy — one task per slice of the file list; no data
    // flows through the driver. overwrite=true keeps task retries (and a
    // re-run after a failed clone) idempotent.
    val plan = pairs.result()
    if (plan.nonEmpty) {
      val conf = new org.apache.spark.sql.graft.SparkBridge.ConfBox(
        spark.sessionState.newHadoopConf())
      val slices = math.max(1, math.min(plan.size, spark.sparkContext.defaultParallelism * 2))
      spark.sparkContext.parallelize(plan, slices).foreach { case (s, d) =>
        GraftTable.copyFileBytes(s, d, conf.value)
      }
    }

    // concurrency posture vs a concurrent SOURCE vacuum: a file vacuumed
    // mid-copy fails its task loudly (the copy reads by path; the length
    // verify catches truncation) and no log is committed — a failed clone
    // is never readable. The cheap pre-commit fence below catches the
    // cheaper-to-diagnose half: a vacuum that already PRUNED the cloned
    // version's log means the source state we copied is gone — refuse
    // with the cause named rather than committing a clone whose
    // provenance version no longer exists at the source.
    if (!src.log.versions().contains(snap.version))
      throw new IllegalStateException(
        s"deep clone of $srcRoot@${snap.version} raced a vacuum/log-cleanup " +
          s"that pruned version ${snap.version} — the copied state is no " +
          "longer a readable source version; re-run the clone against a " +
          "live version")
    val copyMemory = cloneCopyIntoMemory(spark, src.log, srcRoot, snap.version, destRoot)
    val log = new GraftLog(destPath)
    Fs.mkdirs(destPath)
    Transaction.create(log, snap.metadata, cloned,
      CommitInfo(System.currentTimeMillis(), "CLONE",
        operationParameters = Map(
          "source" -> srcRoot, "sourceVersion" -> snap.version.toString,
          "isShallow" -> "false") ++ copyMemory,
        operationMetrics = Map(
          "numFiles" -> cloned.size.toString,
          "numCopiedFiles" -> plan.size.toString,
          "numOutputRows" -> cloned.flatMap(a => GraftLog.parseStats(a.stats))
            .map(_.numRecords).sum.toString,
          "numOutputBytes" -> cloned.map(_.size).sum.toString)),
      protocol = Some(snap.protocol))
    new GraftTable(spark, destPath)
  }

  /** COPY INTO ingestion memory carried by a clone (Databricks parity:
    * CLONE copies COPY INTO state, so a cloned ingestion table does not
    * re-load everything its source already loaded). Gathers the source's
    * loaded-file memory from commits at-or-below the cloned version —
    * embedded lists on the driver, sidecars read DISTRIBUTED — and
    * re-records it in the clone: one embedded list when small, else ONE
    * consolidated parquet sidecar under the CLONE's `_copy_into/`. The
    * returned params ride the clone's version-0 CommitInfo, which the
    * loaded-set reconstruction accepts exactly like a COPY INTO commit's.
    */
  private def cloneCopyIntoMemory(
      spark: SparkSession,
      srcLog: GraftLog,
      srcRoot: String,
      upToVersion: Long,
      destRoot: String): Map[String, String] = {
    import graft.operators.TableOps
    val params = srcLog.history().collect {
      case (v, ci) if v <= upToVersion &&
          (ci.operationParameters.contains("copyFiles") ||
            ci.operationParameters.contains("copyFilesSidecar")) =>
        ci.operationParameters
    }
    val embedded: Seq[String] = params.flatMap(_.get("copyFiles"))
      .flatMap(TableOps.parseEmbeddedCopyFiles).distinct
    val sidecarDirs = params.flatMap(_.get("copyFilesSidecar"))
      .map(id => Fs.child(Fs.child(srcRoot, TableOps.CopyIntoDirName), id))
    // same loud posture as TableOps.copyInto: a live source commit's
    // sidecar must exist — silently dropping it clones a table whose next
    // COPY INTO re-loads everything that commit recorded
    val gone = sidecarDirs.filterNot(Fs.isDirectory)
    if (gone.nonEmpty)
      throw new IllegalStateException(
        s"cannot clone $srcRoot: COPY INTO memory sidecar(s) " +
          s"${gone.map(Fs.fileName).mkString(", ")} referenced by live commits " +
          "are missing — the clone would silently lose the source's ingestion " +
          "memory")
    if (embedded.isEmpty && sidecarDirs.isEmpty) Map.empty
    else if (sidecarDirs.isEmpty && embedded.size <= TableOps.CopyIntoEmbedLimit)
      Map("copyFiles" ->
        GraftLog.mapper.writeValueAsString(embedded.sorted.toArray))
    else {
      import spark.implicits._
      val fromSidecars = spark.read.parquet(sidecarDirs: _*).select("file")
      val all =
        if (embedded.isEmpty) fromSidecars
        else fromSidecars.unionByName(embedded.toDF("file"))
      val id = "cloned-" + java.util.UUID.randomUUID().toString.take(12)
      all.distinct().coalesce(4).write
        .parquet(Fs.child(Fs.child(destRoot, TableOps.CopyIntoDirName), id))
      Map("copyFilesSidecar" -> id)
    }
  }

  /** Executor-side single-file byte copy (deep clone): stream through the
    * Hadoop FileSystem API with overwrite (idempotent on retry), then
    * verify the landed length — a short copy fails the task loudly rather
    * than committing a truncated file.
    */
  private[tables] def copyFileBytes(
      src: String,
      dest: String,
      conf: org.apache.hadoop.conf.Configuration): Unit = {
    val sp = new org.apache.hadoop.fs.Path(Fs.toUriString(src))
    val dp = new org.apache.hadoop.fs.Path(Fs.toUriString(dest))
    // copy through the RAW filesystem on local paths: the checksum wrapper
    // writes `.crc` sidecars as a side effect of every copy, which can
    // interleave with sibling copy tasks in the same destination dir
    def raw(f: org.apache.hadoop.fs.FileSystem): org.apache.hadoop.fs.FileSystem =
      f match {
        case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
        case other => other
      }
    val sfs = raw(sp.getFileSystem(conf))
    val dfs = raw(dp.getFileSystem(conf))
    org.apache.hadoop.fs.FileUtil.copy(sfs, sp, dfs, dp,
      /* deleteSource = */ false, /* overwrite = */ true, conf)
    val want = sfs.getFileStatus(sp).getLen
    val got = dfs.getFileStatus(dp).getLen
    if (got != want)
      throw new java.io.IOException(
        s"deep clone copied $got of $want bytes for $src -> $dest")
  }

  /** The CHECK constraints recorded in a property map, by name. */
  def constraintsOf(properties: Map[String, String]): Map[String, String] =
    properties.collect {
      case (k, v) if k.startsWith(ConstraintPropertyPrefix) =>
        k.stripPrefix(ConstraintPropertyPrefix) -> v
    }

  /** Property prefix for generated columns: `graft.generated.<col>` maps to
    * the column's SQL generation expression (Delta's generation-expression
    * feature in property form — see TableWriter's compute/enforce pass).
    * Sorted for a deterministic application order when one generated column
    * references another.
    */
  val GeneratedPropertyPrefix = "graft.generated."

  /** The generated columns recorded in a property map, name → expression. */
  def generatedColumnsOf(properties: Map[String, String]): Seq[(String, String)] =
    properties.collect {
      case (k, v) if k.startsWith(GeneratedPropertyPrefix) =>
        k.stripPrefix(GeneratedPropertyPrefix) -> v
    }.toSeq.sortBy(_._1)

  /** Property prefix for column DEFAULTs: `graft.default.<col>` maps to the
    * SQL expression an append fills in when its frame lacks the column
    * (instead of the schema-merge null). See TableWriter.
    */
  val DefaultPropertyPrefix = "graft.default."

  /** The column defaults recorded in a property map, name → expression. */
  def defaultColumnsOf(properties: Map[String, String]): Seq[(String, String)] =
    properties.collect {
      case (k, v) if k.startsWith(DefaultPropertyPrefix) =>
        k.stripPrefix(DefaultPropertyPrefix) -> v
    }.toSeq.sortBy(_._1)

  /** Property prefix for IDENTITY columns: `graft.identity.<col>` =
    * `"<start>,<step>"` (Delta's `GENERATED BY DEFAULT AS IDENTITY` in
    * property form). A write whose frame LACKS the column gets dense
    * generated values continuing from the table's high-water mark
    * (`graft.identity.<col>.high`, maintained transactionally by the
    * writer); a provided column passes through untouched (BY DEFAULT
    * semantics — merge rewrites carry existing ids through unchanged).
    */
  val IdentityPropertyPrefix = "graft.identity."

  /** Where the last assigned value of an identity column is recorded. */
  def identityHighKey(col: String): String = s"$IdentityPropertyPrefix$col.high"

  /** The identity columns in a property map: name → (start, step).
    *
    * A key `<name>.high` is high-water BOOKKEEPING only when `<name>` is
    * itself a declared identity column — a column literally named `high`
    * (or `score.high`) is a definition, not bookkeeping, and must not be
    * silently dropped.
    */
  def identityColumnsOf(properties: Map[String, String]): Map[String, (Long, Long)] = {
    val rests = properties.keysIterator
      .filter(_.startsWith(IdentityPropertyPrefix))
      .map(_.stripPrefix(IdentityPropertyPrefix)).toSet
    def isBookkeeping(rest: String): Boolean =
      rest.endsWith(".high") && {
        // bookkeeping for a declared column — or an ORPHANED mark whose
        // definition was unset (single-long value): neither is a
        // definition, and treating the orphan as one would make the table
        // unwritable after `unsetProperties(graft.identity.<col>)`
        rests.contains(rest.stripSuffix(".high")) ||
          scala.util.Try(properties(IdentityPropertyPrefix + rest).trim.toLong).isSuccess
      }
    properties.collect {
      case (k, v) if k.startsWith(IdentityPropertyPrefix) &&
          !isBookkeeping(k.stripPrefix(IdentityPropertyPrefix)) =>
        val name = k.stripPrefix(IdentityPropertyPrefix)
        val parts = v.split(",").map(_.trim)
        require(parts.length == 2 && parts.forall(p => scala.util.Try(p.toLong).isSuccess),
          s"identity property $k must be '<start>,<step>', got '$v'")
        val step = parts(1).toLong
        require(step != 0, s"identity step of $k must be nonzero")
        name -> (parts(0).toLong, step)
    }
  }

  /** Session conf prefix for default table properties inherited by NEW
    * tables — analogue of Delta's
    * `spark.databricks.delta.properties.defaults.*` (the reference sets
    * `...defaults.enableChangeDataFeed=true` session-wide,
    * `ChangeDataFeedHelperSpec.scala:20`). Example:
    * `spark.graft.properties.defaults.enableChangeDataFeed=true`.
    */
  val DefaultsPrefix = "spark.graft.properties.defaults."

  /** Session conf: live-file count above which the READ path plans from a
    * Dataset view of the log (see [[graft.sources.LazyFileIndex]]) instead
    * of a driver-resident `Seq[AddFile]`. The default keeps every
    * ordinary table on the (faster at that size) driver path; a 100 TB
    * table at ~10⁶ files crosses it and stops costing O(files) driver heap
    * and CPU per query.
    */
  val DriverFileLimitConf = "spark.graft.snapshot.driverFileLimit"
  val DriverFileLimitDefault = 100000L

  private[graft] def driverFileLimit(spark: SparkSession): Long =
    spark.conf.getOption(DriverFileLimitConf).map(_.toLong)
      .getOrElse(DriverFileLimitDefault)

  /** Whether a read of the head's segment should take the Dataset-backed
    * path: the (cheaply estimated, never folded) live file count exceeds
    * the session's driver-file limit and the log is executor-readable.
    */
  private[graft] def lazyReadEligible(
      spark: SparkSession, log: GraftLog, head: SegmentHead): Boolean =
    DistributedSnapshot.exceedsFileLimit(log, head, driverFileLimit(spark))

  /** [[lazyReadEligible]] of `target`, resolving its segment. */
  private[graft] def lazyReadEligible(
      spark: SparkSession, log: GraftLog, target: Long): Boolean =
    lazyReadEligible(spark, log, log.replayHead(log.segment(target)))

  private[graft] def sessionDefaultProperties(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.collect {
      case (k, v) if k.startsWith(DefaultsPrefix) =>
        s"graft.${k.stripPrefix(DefaultsPrefix)}" -> v
    }

  def forPath(spark: SparkSession, path: String): GraftTable = {
    val t = new GraftTable(spark, path)
    require(t.log.tableExists, s"$path is not a GraftTable (no committed log)")
    t
  }

  /** Resolve a registered name to its table path — analogue of
    * `DeltaTable.forName` (reference `DeltaHelperSpec.scala:438`). Resolution
    * order: the session-conf registry (legacy [[registerTable]] mapping),
    * then a [[graft.catalog.GraftCatalog]] identifier (`graft_cat.ns.t` —
    * head names a registered V2 graft catalog), then the real Spark catalog
    * (a `USING graft` table created by [[registerTable]] or by SQL
    * `CREATE TABLE ... USING graft LOCATION`).
    */
  def forName(spark: SparkSession, name: String): GraftTable = {
    val key = s"spark.graft.table.$name"
    val path = spark.conf.getOption(key)
      .orElse(graft.catalog.GraftCatalog.pathForName(spark, name).filter(exists))
      .orElse(catalogLocation(spark, name)).getOrElse(
        throw new IllegalArgumentException(
          s"table '$name' is not registered; call GraftTable.registerTable first"))
    forPath(spark, path)
  }

  /** The storage location of `name` if the Spark catalog knows it as a
    * `USING graft` table.
    */
  private def catalogLocation(spark: SparkSession, name: String): Option[String] =
    try {
      val t = spark.catalog.getTable(name)
      val ident = org.apache.spark.sql.catalyst.TableIdentifier(t.name, Option(t.database))
      val meta = spark.sessionState.catalog.getTableMetadata(ident)
      if (!meta.provider.exists(_.equalsIgnoreCase("graft"))) None
      else meta.storage.locationUri.map { u =>
        if (u.getScheme == null || u.getScheme == "file")
          java.nio.file.Paths.get(u).toString
        else Fs.normalize(u.toString)
      }
    } catch { case _: org.apache.spark.sql.AnalysisException => None }

  /** Register `name` → `path` — analogue of
    * `CREATE TABLE name USING DELTA LOCATION '<path>'`
    * (reference `OperationMetricHelperSpec.scala:288`). The table lands in
    * the REAL Spark catalog (visible in `spark.catalog.listTables`, readable
    * through `spark.sql("SELECT ... FROM name")`, insertable through SQL
    * `INSERT INTO`) via the `graft` data source, which resolves the commit
    * log at scan time so only live snapshot files are read. A session-conf
    * mapping is kept alongside for metastore-free callers.
    */
  def registerTable(spark: SparkSession, name: String, path: String): Unit = {
    require(exists(path), s"$path is not a GraftTable")
    spark.conf.set(s"spark.graft.table.$name", path)
    // escape backticks inside each part so a hostile name cannot break out
    // of the identifier quoting (mirrors the location's quote escaping)
    val ident = name.split('.').map(p => s"`${p.replace("`", "``")}`").mkString(".")
    val loc = (if (Fs.isRemote(path)) Fs.normalize(path)
               else java.nio.file.Paths.get(path).toAbsolutePath.toString)
      .replace("'", "''")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $ident USING graft LOCATION '$loc'")
    // the cached catalog plan (and its frozen schema) must follow the CURRENT
    // log state when a name is re-registered after external writes
    spark.catalog.refreshTable(ident)
    ()
  }

  /** DDL-style creation of an EMPTY table from a schema — analogue of
    * `DeltaTable.create.addColumn(...).execute()`
    * (reference `DeltaHelperSpec.scala:43-49`).
    */
  def createEmpty(
      spark: SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType,
      partitionColumns: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val log = new GraftLog(path)
    require(!log.tableExists, s"$path already exists")
    Fs.mkdirs(path)
    Transaction.create(log, graft.tables.Metadata(schema.json, partitionColumns,
      sessionDefaultProperties(spark) ++ properties), Nil,
      CommitInfo(System.currentTimeMillis(), "CREATE TABLE"))
    new GraftTable(spark, path)
  }

  def exists(path: String): Boolean = new GraftLog(path).tableExists

  /** Create (or overwrite) a table at `path` from `df`. */
  def create(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      partitionColumns: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty
  ): GraftTable = {
    // Delta records data-bearing creation as WRITE (the reference's metric
    // helper expects version 0 to be a countable WRITE)
    TableWriter.write(spark, path, df, TableWriter.Overwrite,
      partitionColumns = partitionColumns,
      properties = properties,
      operation = "WRITE")
    new GraftTable(spark, path)
  }

  /** CONVERT TO GRAFT (Delta's `CONVERT TO DELTA`): turn an existing plain
    * parquet directory into a graft table IN PLACE — version 0 is a
    * metadata-only commit referencing the files where they already are (no
    * byte is rewritten; at 100 TB that is the entire point), with footer
    * min/max stats harvested so file skipping works from the first query.
    *
    * Hive-style `k=v` partition directories become partition columns.
    * Their types come from Spark's partition inference unless
    * `partitionSchema` pins them — pass it whenever values like `"00"`
    * must stay strings (inference would collapse them to ints, exactly the
    * ambiguity that makes Delta's CONVERT require an explicit partition
    * schema).
    *
    * Fails loudly on a directory that is already a graft table, has no
    * parquet files, or mixes partition layouts.
    */
  def convert(
      spark: SparkSession,
      path: String,
      partitionSchema: StructType = new StructType(),
      properties: Map[String, String] = Map.empty): GraftTable = {
    val log = new GraftLog(path)
    require(!log.tableExists, s"$path is already a graft table")
    require(Fs.isDirectory(path), s"$path is not a directory")
    val rels = Fs.walkFiles(path)
      .map(p => Fs.relativize(path, p))
      .filter { rel =>
        rel.endsWith(".parquet") &&
          // metadata/hidden dirs (_graft_log, _SUCCESS neighbors, .staging)
          !rel.split('/').exists(seg => seg.startsWith("_") || seg.startsWith("."))
      }.toList
    val files = rels.map(Fs.child(path, _))
    require(files.nonEmpty, s"no parquet files under $path — nothing to convert")
    val partValues = rels.map(TableWriter.partitionValuesOf)
    val partKeySets = partValues.map(_.keySet).distinct
    require(partKeySets.size == 1,
      s"inconsistent partition layouts under $path: ${partKeySets.take(3).mkString(" vs ")}")
    // case-insensitive, matching the type-override lookup below
    val layoutKeysLower = partKeySets.head.map(_.toLowerCase)
    val declaredOnly = partitionSchema.fieldNames.filterNot(f =>
      layoutKeysLower.contains(f.toLowerCase))
    require(declaredOnly.isEmpty,
      s"declared partition column(s) ${declaredOnly.mkString(", ")} not present in the directory layout")
    // inferred schema SEES the partition dirs (so partition cols are
    // included and ordered last); declared types override inference
    val inferred = spark.read.parquet(path).schema
    val schema = StructType(inferred.map { f =>
      partitionSchema.fields.find(_.name.equalsIgnoreCase(f.name))
        .map(p => f.copy(dataType = p.dataType)).getOrElse(f)
    })
    val partCols = inferred.fieldNames.filter(partKeySets.head.contains).toSeq
    val conf = spark.sessionState.newHadoopConf()
    // a new table: session defaults apply as in create/createEmpty
    val props = sessionDefaultProperties(spark) ++ properties
    val statsSel = ParquetStats.statsColumnsOf(props, schema)
    val adds = TableWriter.harvestParallel(files.zip(rels).zip(partValues)) {
      case ((abs, rel), pv) =>
        AddFile(
          path = rel,
          partitionValues = pv,
          size = Fs.size(abs),
          // foreign writer: string min/max may be truncated BOUNDS
          // (parquet.statistics.truncate.length leaves no footer marker) —
          // mark them non-tight so only skipping uses them, never answers
          stats = GraftLog.renderStats(ParquetStats.forFile(abs, conf, statsSel)
            .copy(tightBounds = false)))
    }
    val numRows = adds.flatMap(a => GraftLog.parseStats(a.stats)).map(_.numRecords).sum
    Transaction.create(log, graft.tables.Metadata(schema.json, partCols, props), adds,
      CommitInfo(
        timestamp = System.currentTimeMillis(),
        operation = "CONVERT",
        operationParameters = Map(
          "partitionedBy" -> partCols.mkString("[", ",", "]")),
        operationMetrics = Map(
          "numConvertedFiles" -> adds.size.toString,
          "numOutputRows" -> numRows.toString)))
    new GraftTable(spark, path)
  }
}
