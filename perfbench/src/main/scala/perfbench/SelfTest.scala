package perfbench

import java.nio.file.Path

import scala.collection.mutable

/** The benchmark's own tests:
  *  - a seed always generates the same operations and inputs, and another
  *    seed other ones;
  *  - every correctness check passes on the real reference and fails once
  *    the reference is deliberately perturbed;
  *  - the metric catalog is printed, for the runner's test to compare with
  *    BENCHMARK.json.
  * Prints one `PASS`/`FAIL` line per case; returns the exit code.
  */
object SelfTest {
  private val results = mutable.ArrayBuffer.empty[(String, Option[String])]

  private def test(name: String)(body: => Option[String]): Unit = {
    val r = try body catch { case e: Throwable => Some(e.toString) }
    results += name -> r
    println(r.fold(s"PASS $name")(why => s"FAIL $name: $why"))
  }

  private def determinism[T](name: String)(gen: Long => T): Unit = test(s"$name is a function of the seed") {
    if (gen(7L) != gen(7L)) Some("seed 7 generated two different sequences")
    else if (gen(7L) == gen(8L)) Some("seeds 7 and 8 generated the same sequence")
    else None
  }

  /** Runs `w` for a round, verifies, perturbs the reference, runs another
    * round and verifies again: each named check must fail only after it.
    */
  private def perturbation(name: String, w: Workload, dir: Path, checks: Seq[String]): Unit = {
    w.prepare(); w.build(dir); w.open(dir); w.warmup()
    val rec = new Recorder(null, traced = false)
    w.round(rec)
    val clean = w.verify()
    test(s"$name passes its checks on the real reference") {
      if (clean.isEmpty) None else Some(clean.mkString("; "))
    }
    w.perturb()
    w.round(rec)
    val failed = w.verify()
    checks.foreach { c =>
      test(s"$name check '$c' fails on a perturbed reference") {
        if (failed.exists(_.contains(c))) None else Some(s"no failure mentions '$c': ${failed.take(3)}")
      }
    }
  }

  def run(out: Path): Int = {
    Catalog.endToEnd.foreach { case (n, u) => println(s"catalog end_to_end $n $u") }
    Catalog.perLayer.foreach { case (n, u) => println(s"catalog per_layer $n $u") }

    determinism("the ingest_merge operation sequence") { s =>
      val g = new IngestGen(s); Seq.fill(20)(g.nextRound())
    }
    determinism("the dedup_corpus passes") { s =>
      val g = new CorpusGen(s); Seq(g.pass(0), g.pass(3))
    }
    determinism("the generated rows") { s =>
      (0L until 50L).map(k => Gen.order(s, k, 1))
    }

    Main.withSession(out, "selftest") { (spark, work) =>
      perturbation("ingest_merge", new IngestMerge(spark, 5L), work.resolve("ingest"),
        Seq("scan", "time travel", "change feed", "history has", "count metrics", "upstream head",
          "upstream live table", "downstream table"))
      perturbation("dedup_corpus", new DedupCorpus(spark, 5L), work.resolve("dedup"),
        Seq("exact dedup", "planted exact duplicate", "minhash output counted", "is not an exact survivor",
          "minhash removed", "simhash pair", "documents table"))
    }
    val failed = results.count(_._2.isDefined)
    println(s"selftest: ${results.size - failed} passed, $failed failed")
    if (failed == 0) 0 else 1
  }
}
