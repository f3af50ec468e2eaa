package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.{GraftValidationError, GraftValidator}
import graft.tables._

/** Table-utility operators — parity surface for the reference's
  * `DeltaHelpers` (SURVEY §2: M3–M8, K1–K4, S1–S10), re-built on GraftTable.
  * Citations are reference file:line from mrpowers-io/jodie.
  */
object GraftHelpers {

  // ====================================================================
  // S1 — latest version (DeltaHelpers.scala:20-21)
  // ====================================================================
  def latestVersion(path: String): Long = new GraftLog(path).latestVersion()

  // ====================================================================
  // S2 — file sizes (DeltaHelpers.scala:221-231)
  // ====================================================================
  def fileSizes(table: GraftTable): Map[String, Double] = {
    val s = table.snapshot
    if (s.numFiles == 0)
      Map("size_in_bytes" -> 0d, "number_of_files" -> 0d, "average_file_size_in_bytes" -> 0d)
    else Map(
      "size_in_bytes" -> s.sizeInBytes.toDouble,
      "number_of_files" -> s.numFiles.toDouble,
      "average_file_size_in_bytes" -> math.round(s.sizeInBytes.toDouble / s.numFiles).toDouble
    )
  }

  // ====================================================================
  // S3 — humanize bytes (DeltaHelpers.scala:530-537)
  // ====================================================================
  def humanizeBytes(bytes: Double): String = {
    val abs = math.abs(bytes)
    if (abs > 0.9e15) f"${bytes / 1e15}%.1f PB"
    else if (abs > 0.9e12) f"${bytes / 1e12}%.1f TB"
    else if (abs > 0.9e9) f"${bytes / 1e9}%.1f GB"
    else if (abs > 0.9e6) f"${bytes / 1e6}%.1f MB"
    else if (abs > 0.9e3) f"${bytes / 1e3}%.1f kB"
    else f"$bytes%.0f B"
  }

  // ====================================================================
  // S4 — pretty-print sizes (DeltaHelpers.scala:539-548)
  // ====================================================================
  def showFileSizes(table: GraftTable): Unit = {
    val m = fileSizes(table)
    println(
      s"The table at ${table.path} has ${m("number_of_files").toLong} files " +
        s"totalling ${humanizeBytes(m("size_in_bytes"))} " +
        s"(average ${humanizeBytes(m("average_file_size_in_bytes"))}).")
  }

  // ====================================================================
  // S5/S6/S7 — per-partition file-size / record-count distributions
  // (DeltaHelpers.scala:41-75,197-219)
  // ====================================================================
  private val PercentileCol = "Percentile[10th, 25th, Median, 75th, 90th, 95th]"
  private val Percentiles = Array(0.1, 0.25, 0.5, 0.75, 0.9, 0.95)

  private def distribution(table: GraftTable, condition: Option[String],
      valueCol: Column, prefix: String): DataFrame = {
    val files = filteredFilesDF(table, condition)
    files
      .groupBy(map_entries(col("partitionValues")).as("partitionValues"))
      .agg(
        count("*").as("num_of_parquet_files"),
        mean(valueCol).as(s"mean_$prefix"),
        stddev(valueCol).as("stddev"),
        min(valueCol).as(s"min_$prefix"),
        max(valueCol).as(s"max_$prefix"),
        percentile_approx(valueCol, lit(Percentiles), lit(Int.MaxValue)).as(PercentileCol)
      )
  }

  /** Apply a partition-predicate string to the file-metadata DF by
    * materializing partition columns (typed per the table schema).
    */
  private def filteredFilesDF(table: GraftTable, condition: Option[String]): DataFrame = {
    val snap = table.snapshot
    val base = table.filesDF
    condition match {
      case None => base
      case Some(cond) =>
        val schema = snap.schema
        val withCols = snap.metadata.partitionColumns.foldLeft(base) { (df, c) =>
          val dt = schema.fields.find(_.name == c).map(_.dataType)
            .getOrElse(org.apache.spark.sql.types.StringType)
          df.withColumn(c, element_at(col("partitionValues"), c).cast(dt))
        }
        withCols.filter(expr(cond)).drop(snap.metadata.partitionColumns: _*)
    }
  }

  def fileSizeDistribution(table: GraftTable, condition: Option[String] = None): DataFrame =
    distribution(table, condition, col("size"), "size_of_files")

  def fileSizeDistributionInMB(table: GraftTable, condition: Option[String] = None): DataFrame =
    distribution(table, condition, col("size") / (1024d * 1024d), "size_of_files_in_mb")

  def numRecordDistribution(table: GraftTable, condition: Option[String] = None): DataFrame =
    distribution(table, condition, col("numRecords"), "num_records_in_files")

  // ====================================================================
  // S8/S9 — data-skipping introspection (DeltaHelpers.scala:109-194)
  // ====================================================================
  /** For a filter/merge condition: classify its conjuncts and report how many
    * files survive stats-based skipping per bucket (overall / min-max /
    * equality / left-over / unresolved) plus totals.
    */
  def getNumShuffleFiles(table: GraftTable, condition: String): Map[String, Any] = {
    val (overall, minMax, equalsF, leftOver, unresolvedF, cls) = shuffleFileSets(table, condition)
    Map(
      "overall" -> overall.size,
      "minMax" -> minMax.size,
      "equals" -> equalsF.size,
      "leftOver" -> leftOver.size,
      "unresolved" -> unresolvedF.size,
      // the unresolved bucket is every file of the one snapshot classified
      "totalFilesInTable" -> unresolvedF.size.toLong,
      "unresolvedColumns" -> cls.unresolvedColumns.toList
    )
  }

  /** S9: the surviving file entries per bucket + the file-metadata DF. */
  def getShuffleFileMetadata(table: GraftTable, condition: String)
      : (Seq[AddFile], Seq[AddFile], Seq[AddFile], Seq[AddFile], Seq[AddFile], DataFrame, Seq[String]) = {
    val (overall, minMax, equalsF, leftOver, unresolvedF, cls) = shuffleFileSets(table, condition)
    (overall, minMax, equalsF, leftOver, unresolvedF, table.filesDF, cls.unresolvedColumns)
  }

  private def shuffleFileSets(table: GraftTable, condition: String) = {
    val snap = table.snapshot
    val cls = FileSkipping.classify(table.spark, snap.schema, condition)
    val bloomCtx = Some(BloomIndex.ProbeContext(table.spark, table.path))
    (
      FileSkipping.filesMatching(snap, cls.all, bloomCtx),
      FileSkipping.filesMatching(snap, cls.minMax, bloomCtx),
      FileSkipping.filesMatching(snap, cls.equals, bloomCtx),
      FileSkipping.filesMatching(snap, cls.leftOver, bloomCtx),
      snap.files, // unresolved conjuncts cannot prune anything
      cls
    )
  }

  // ====================================================================
  // S10 — storage location (DeltaHelpers.scala:381-385)
  // ====================================================================
  def getStorageLocation(table: GraftTable): String = table.path

  // ====================================================================
  // M3 — kill duplicates, no survivor (DeltaHelpers.scala:243-268)
  // ====================================================================
  def killDuplicateRecords(table: GraftTable, duplicateColumns: Seq[String]): Unit = {
    val df = table.toDF
    if (duplicateColumns.isEmpty)
      throw new NoSuchElementException("the input parameter duplicateColumns must not be empty")
    GraftValidator.validateColumnsExistsInDataFrame(duplicateColumns, df)

    val dupKeys = df
      .groupBy(duplicateColumns.map(col): _*)
      .count()
      .filter(col("count") > 1)
      .drop("count")
    // merge-delete on null-unsafe equality: NULL-keyed rows are never deleted
    // (SURVEY §2.1 null-semantics nuance)
    val cond = duplicateColumns.map(c => s"old.$c = new.$c").mkString(" AND ")
    GraftMerge(table, "old").merge(dupKeys, cond, Some("new"))
      .whenMatchedDelete()
      .execute()
  }

  // ====================================================================
  // M4 — dedup keeping lowest primary key (DeltaHelpers.scala:282-319)
  // ====================================================================
  def removeDuplicateRecords(table: GraftTable, primaryKey: String,
      duplicateColumns: Seq[String]): Unit = {
    val df = table.toDF
    if (primaryKey.isEmpty)
      throw new NoSuchElementException("the input parameter primaryKey must not be empty")
    if (duplicateColumns.isEmpty)
      throw new NoSuchElementException("the input parameter duplicateColumns must not be empty")
    GraftValidator.validateColumnsExistsInDataFrame(Seq(primaryKey) ++ duplicateColumns, df)

    val losers = df
      .withColumn("__rn",
        row_number().over(Window.partitionBy(duplicateColumns.map(col): _*).orderBy(primaryKey)))
      .filter(col("__rn") > 1)
      .drop("__rn")
      .select((Seq(primaryKey) ++ duplicateColumns).distinct.map(col): _*)
      .distinct()
    val cond = (Seq(primaryKey) ++ duplicateColumns).distinct
      .map(c => s"old.$c = new.$c").mkString(" AND ")
    GraftMerge(table, "old").merge(losers, cond, Some("new"))
      .whenMatchedDelete()
      .execute()
  }

  // ====================================================================
  // M5 — dedup keeping one arbitrary survivor (DeltaHelpers.scala:321-340)
  // ====================================================================
  def removeDuplicateRecords(table: GraftTable, duplicateColumns: Seq[String]): Unit = {
    val df = table.toDF
    if (duplicateColumns.isEmpty)
      throw new NoSuchElementException("the input parameter duplicateColumns must not be empty")
    GraftValidator.validateColumnsExistsInDataFrame(duplicateColumns, df)
    // full rewrite with dropDuplicates (NULLs compare equal here — reference
    // uses dropDuplicates, unlike the merge-based variants)
    table.overwrite(df.dropDuplicates(duplicateColumns), operation = "WRITE")
  }

  // ====================================================================
  // M6 — allowlist-validated append (DeltaHelpers.scala:354-379)
  // ====================================================================
  def validateAppend(table: GraftTable, appendDf: DataFrame,
      requiredCols: List[String], optionalCols: List[String]): Unit = {
    val appendCols = appendDf.columns.toSeq
    val missingRequired = requiredCols.filterNot(appendCols.contains)
    if (missingRequired.nonEmpty)
      throw new IllegalArgumentException(
        s"The base Delta table has these columns $appendCols, but these columns are required $requiredCols")
    val illegal = appendCols.filterNot(c => requiredCols.contains(c) || optionalCols.contains(c))
    if (illegal.nonEmpty)
      throw new IllegalArgumentException(
        s"The column '${illegal.head}' is not part of the current Delta table. " +
          "If you want to add the column to the table you must set the optionalCols parameter.")
    table.append(appendDf)
  }

  // ====================================================================
  // M7 — insert-only merge / dedup append (DeltaHelpers.scala:437-453)
  // ====================================================================
  def appendWithoutDuplicates(table: GraftTable, appendData: DataFrame,
      compositeKey: Seq[String]): Unit = {
    if (compositeKey.isEmpty)
      throw new NoSuchElementException("The attribute compositeKey must not be empty")
    val cleaned = appendData.dropDuplicates(compositeKey)
    val cond = compositeKey.map(c => s"old.$c = new.$c").mkString(" AND ")
    GraftMerge(table, "old").merge(cleaned, cond, Some("new"))
      .whenNotMatchedInsertAll()
      .execute()
  }

  // ====================================================================
  // M8 — copy table (DeltaHelpers.scala:402-424)
  // ====================================================================
  def copyTable(table: GraftTable, targetPath: Option[String] = None,
      targetTableName: Option[String] = None): Unit = {
    val spark = table.spark
    val snap = table.snapshot
    (targetPath, targetTableName) match {
      case (Some(path), None) =>
        GraftTable.create(spark, path, table.toDF,
          partitionColumns = snap.metadata.partitionColumns,
          properties = snap.metadata.properties)
        ()
      case (None, Some(name)) =>
        // name-based copy creates a REAL GraftTable under the session
        // warehouse dir and registers the name for GraftTable.forName —
        // metastore-free analogue of `CREATE TABLE name ... LOCATION path`
        // (a plain saveAsTable would lose the graft log + properties)
        val warehouse = spark.conf.get("spark.sql.warehouse.dir")
          .stripPrefix("file:")
        val dest = name.split('.').foldLeft(warehouse)(graft.tables.Fs.child)
        GraftTable.create(spark, dest, table.toDF,
          partitionColumns = snap.metadata.partitionColumns,
          properties = snap.metadata.properties)
        GraftTable.registerTable(spark, name, dest)
      case (Some(_), Some(_)) =>
        throw GraftValidationError(
          "Ambiguous destination only one of the two must be defined targetPath or targetTableName.")
      case (None, None) =>
        throw GraftValidationError("Either targetPath or targetTableName must be specified.")
    }
  }

  // ====================================================================
  // K1/K2 — md5 surrogate key (DeltaHelpers.scala:479-492)
  // ====================================================================
  def withMD5Columns(df: DataFrame, cols: List[String], newColName: String): DataFrame = {
    GraftValidator.validateColumnsExistsInDataFrame(cols, df)
    df.withColumn(newColName, md5(concat_ws("||", cols.map(col): _*)))
  }

  def withMD5Columns(df: DataFrame, cols: List[String]): DataFrame =
    withMD5Columns(df, cols, cols.mkString("_md5", "", ""))

  def withMD5Columns(table: GraftTable, cols: List[String], newColName: String): DataFrame =
    withMD5Columns(table.toDF, cols, newColName)

  // ====================================================================
  // K3 — find composite key (DeltaHelpers.scala:455-477)
  // ====================================================================
  /** Smallest column combination (excluding `excludeCols`) whose distinct
    * count equals the full-row distinct count; Nil if none.
    *
    * Scale note: exact distinct per combination is O(2^n) shuffles — the
    * reference's algorithm (`:466-471`). `approxIfLarger` short-circuits most
    * combinations with `approx_count_distinct` (one pass, no shuffle per
    * combo) and confirms only promising candidates exactly.
    */
  def findCompositeKeyCandidate(table: GraftTable,
      excludeCols: Seq[String] = Nil,
      approxPrefilter: Boolean = true): Seq[String] = {
    val df = table.toDF
    val cleaned = df.drop(excludeCols: _*)
    val totalCols = cleaned.columns.length
    val baseline = df.distinct().count()

    def exactDistinct(cols: Seq[String]): Long =
      cleaned.select(cols.map(col): _*).distinct().count()

    val combos = for {
      i <- (1 to totalCols).iterator
      combo <- cleaned.columns.toSeq.combinations(i)
      if combo.length != totalCols
    } yield combo

    if (!approxPrefilter) {
      combos.find(c => exactDistinct(c) == baseline).map(_.toSeq).getOrElse(Nil)
    } else {
      // one distributed pass computes approx NDV for every combination
      val comboList = combos.toSeq
      val rsd = 0.05
      val aggs = comboList.zipWithIndex.map { case (c, i) =>
        // non-printing separator keeps ("ab","c") distinct from ("a","bc") in
        // the concatenated key, and a NULL marker keeps ('a',NULL) distinct
        // from (NULL,'a') -- concat_ws SKIPS null values, so without the
        // coalesce NULL-permuted tuples collapse and a true key's NDV
        // deflates below the cutoff (false negative). The exact confirm
        // still removes any false positives.
        val parts = c.map(cn => coalesce(col(cn).cast("string"), lit("\u0000N")))
        approx_count_distinct(concat_ws("\u0001", parts: _*), rsd).as(s"c$i")
      }
      val approx = cleaned.agg(aggs.head, aggs.tail: _*).collect()(0)
      // admit everything within 4 standard errors of the baseline: a true
      // key's HLL estimate stays above this band (P(miss) ~ 3e-5), and the
      // only cost of admitting a near-miss is one exact confirmation
      val cutoff = (baseline * (1.0 - 4 * rsd)).toLong
      comboList.zipWithIndex
        .filter { case (_, i) => approx.getLong(i) >= cutoff }
        .map(_._1)
        .find(c => exactDistinct(c) == baseline)
        .map(_.toSeq).getOrElse(Nil)
    }
  }

  // ====================================================================
  // K4 — is composite key (DeltaHelpers.scala:505-528)
  // ====================================================================
  def isCompositeKeyCandidate(table: GraftTable, cols: List[String]): Boolean = {
    val df = table.toDF
    GraftValidator.validateColumnsExistsInDataFrame(cols, df)
    df.groupBy(cols.map(col): _*).count().filter(col("count") > 1).isEmpty
  }
}
