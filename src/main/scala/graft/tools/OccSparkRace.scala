package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, udf}

import graft.operators.{GraftMerge, TableOps}
import graft.tables.GraftTable

/** Cross-process SEMANTIC OCC race driver (test-harness main): one real
  * Spark operation per JVM, interleaved deterministically through file-based
  * gates, against a shared table. `OccSparkRaceSpec` spawns pairs of these to
  * prove the logical conflict-resolution rules (`Transaction.verdict`)
  * across REAL process boundaries — the in-JVM OccGate
  * specs share one page cache and one `GraftLog` view; two JVMs do not.
  *
  * Gate protocol (files beside the table, driven by a UDF evaluated inside
  * the blocked writer's own Spark job):
  *  - the BLOCKED writer reads its snapshot, then its job blocks after
  *    creating `_gate_entered`;
  *  - the WINNER waits for `_gate_entered`, runs its whole operation on the
  *    newest snapshot, commits, then creates `_gate_go`;
  *  - the blocked writer resumes with STALE decisions and must resolve the
  *    version-claim conflict semantically: rebase-and-commit when the winner
  *    is file-disjoint, abort when it is not.
  *
  * Roles (exit 0 = expected outcome):
  *  - `merge-blocked:<country>`   gated single-partition merge, expect commit
  *  - `merge-abort:<country>`     gated single-partition merge, expect
  *                                ConcurrentModificationException
  *  - `merge-winner:<country>`    wait → merge into `<country>` → release
  *  - `append-blocked`            gated blind append, expect commit
  *  - `optimize-winner`           wait → OPTIMIZE (compact) → release
  */
object OccSparkRace {

  def main(args: Array[String]): Unit = {
    val Array(tablePath, role) = args
    val spark = SparkSession.builder()
      .appName(s"occ-spark-race-$role")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      val outcome = run(spark, tablePath, role)
      println(s"OCC_SPARK_RACE_RESULT=$outcome")
      if (outcome != "ok") sys.exit(1)
    } finally spark.stop()
  }

  private def gatePaths(tablePath: String) =
    (Paths.get(tablePath, "_gate_entered"), Paths.get(tablePath, "_gate_go"))

  /** Column gate: first evaluation announces entry, every evaluation then
    * blocks until the winner's release marker appears (bounded).
    */
  private def gateUdf(tablePath: String) = udf { (id: Int) =>
    val (entered, go) = gatePaths(tablePath)
    try Files.createFile(entered) catch { case _: java.nio.file.FileAlreadyExistsException => () }
    val deadline = System.currentTimeMillis() + 120000
    while (!Files.exists(go) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    if (!Files.exists(go)) throw new IllegalStateException("gate release timed out")
    id
  }

  private def awaitFile(p: java.nio.file.Path): Unit = {
    val deadline = System.currentTimeMillis() + 120000
    while (!Files.exists(p) && System.currentTimeMillis() < deadline) Thread.sleep(10)
    if (!Files.exists(p)) throw new IllegalStateException(s"timed out waiting for $p")
  }

  private def run(spark: SparkSession, tablePath: String, role: String): String = {
    import spark.implicits._
    val (entered, go) = gatePaths(tablePath)
    val t = GraftTable.forPath(spark, tablePath)

    def gatedMerge(country: String): Long = {
      val src = Seq((1, s"merged-$country", country)).toDF("id", "name", "country")
        .withColumn("id", gateUdf(tablePath)(col("id")))
      GraftMerge(t, "old")
        .merge(src, s"old.country = '$country' AND old.id = new.id", Some("new"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    }

    role.split(":").toList match {
      case "merge-blocked" :: country :: Nil =>
        gatedMerge(country); "ok"

      case "merge-abort" :: country :: Nil =>
        try { gatedMerge(country); "unexpected-commit" }
        catch { case _: java.util.ConcurrentModificationException => "ok" }

      case "merge-winner" :: country :: Nil =>
        awaitFile(entered)
        val src = Seq((2, s"winner-$country", country)).toDF("id", "name", "country")
        GraftMerge(t, "old")
          .merge(src, s"old.country = '$country' AND old.id = new.id", Some("new"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        Files.createFile(go); "ok"

      case "append-blocked" :: Nil =>
        val df = Seq((100, "appended", "US"), (101, "appended", "DE"))
          .toDF("id", "name", "country")
          .withColumn("id", gateUdf(tablePath)(col("id")))
        t.append(df); "ok"

      case "optimize-winner" :: Nil =>
        awaitFile(entered)
        TableOps.compact(t)
        Files.createFile(go); "ok"

      // identity-range race: the blocked appender reserves ids from a
      // snapshot the winner then invalidates by advancing the SAME
      // high-water mark — its staged files carry colliding values, so the
      // only safe outcome is an abort (Transaction.verdict's identity rule)
      case "identity-blocked-abort" :: Nil =>
        val df = Seq((1, "blocked-a"), (2, "blocked-b")).toDF("n", "payload")
          .withColumn("n", gateUdf(tablePath)(col("n")))
        try { t.append(df); "unexpected-commit" }
        catch { case _: java.util.ConcurrentModificationException => "ok" }

      // winner that CONSUMES identity ids concurrently
      case "identity-winner" :: Nil =>
        awaitFile(entered)
        GraftTable.forPath(spark, tablePath)
          .append(Seq((10, "winner-a"), (11, "winner-b"), (12, "winner-c"))
            .toDF("n", "payload"))
        Files.createFile(go); "ok"

      // a winner that does NOT touch the identity mark (layout-only
      // OPTIMIZE) must not abort the blocked identity append — the blind
      // append rebases and both ranges stay disjoint
      case "identity-blocked-ok" :: Nil =>
        val df = Seq((1, "blocked-a"), (2, "blocked-b")).toDF("n", "payload")
          .withColumn("n", gateUdf(tablePath)(col("n")))
        t.append(df); "ok"

      case other =>
        throw new IllegalArgumentException(s"unknown role: $other")
    }
  }
}
