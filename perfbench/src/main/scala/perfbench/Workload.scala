package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.tables.{FileSkipping, GraftTable}

/** One benchmark workload: a fixture built in set-up, then a closed loop of
  * rounds with one client, checked against a reference that does not use
  * graft.
  */
trait Workload {
  /** Builds the reference's starting state (untimed, once per run). */
  def prepare(): Unit

  /** Builds a fresh fixture under `dir`: only library work, as it is what
    * `setup_s` times. Called several times a run.
    */
  def build(dir: Path): Unit

  /** Makes the fixture under `dir` the one the operations run on. */
  def open(dir: Path): Unit

  /** Untimed operations on the opened fixture before the loop (JIT, caches). */
  def warmup(): Unit

  /** One round of operations, each through `rec.op`. */
  def round(rec: Recorder): Unit

  /** Checks the final state against the reference; returns failures. */
  def verify(): Seq[String]

  /** The workload's own latency and size report: name → (value, unit, samples). */
  def report(rec: Recorder): Seq[(String, Double, String, Int)]

  /** Corrupts the reference on purpose, so the self-test can show that
    * every check fails against a wrong reference.
    */
  def perturb(): Unit

  /** The graft table whose storage is measured at the end. */
  def table: GraftTable
}

object Workload {
  val Names: Seq[String] = Seq("ingest_merge", "dedup_corpus")

  def apply(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "ingest_merge" => new IngestMerge(spark, seed)
    case "dedup_corpus" => new DedupCorpus(spark, seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def rowsDF(spark: SparkSession, rows: Seq[Row], schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** Samples the table layer alone before an operation (traced runs only):
    * the log listing, the head snapshot fold and a past-version fold.
    */
  def probeTables(rec: Recorder, t: GraftTable, pastVersion: Long): Unit = if (rec.traced) {
    rec.span("probe.tables") {
      rec.timed("tables.list", "tables.list_s")(t.log.versions())
      rec.timed("tables.snapshot", "tables.snapshot_s")(t.log.snapshot())
      rec.timed("tables.snapshot_at", "tables.snapshot_at_s")(t.log.snapshot(pastVersion.max(0L)))
    }
  }

  /** Samples file skipping alone on a scan predicate (traced runs only). */
  def probeSkipping(rec: Recorder, spark: SparkSession, t: GraftTable, df: DataFrame, cond: String): Unit =
    if (rec.traced) rec.span("probe.skipping") {
      val snap = t.log.snapshot()
      val preds = FileSkipping.classify(spark, df, cond).all
      val kept = rec.timed("tables.skip", "tables.skip_s")(FileSkipping.filesMatching(snap, preds, None))
      rec.sample("tables.skip_files_considered", snap.files.size.toDouble)
      rec.sample("tables.skip_files_kept", kept.size.toDouble)
      rec.sample("tables.skip_keep_ratio", kept.size.toDouble / snap.files.size.max(1))
    }

  /** Folds of the table's snapshot during one operation, by operation kind. */
  def folds[T](rec: Recorder, t: GraftTable, kind: String)(body: => T): T = {
    val before = graft.PerfbenchProbe.foldCount(t.path)
    val out = body
    rec.sample(s"tables.folds.$kind", (graft.PerfbenchProbe.foldCount(t.path) - before).toDouble)
    out
  }

  def dirBytes(p: String, pred: String => Boolean = _ => true): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(f => Files.isRegularFile(f) && pred(f.getFileName.toString))
        .mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  def countEntries(dir: String): Int = {
    val s = Files.list(java.nio.file.Paths.get(dir))
    try s.count().toInt finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  /** Bytes under the table directory ÷ bytes of its live snapshot written
    * once as fresh Parquet (outside the timed region).
    */
  def bytesPerLiveByte(spark: SparkSession, t: GraftTable, scratch: Path): Double = {
    val fresh = scratch.resolve("fresh-live")
    t.toDF.coalesce(1).write.parquet(fresh.toString)
    val live = dirBytes(fresh.toString, _.endsWith(".parquet"))
    val all = dirBytes(t.path)
    deleteTree(fresh)
    all.toDouble / live
  }
}
