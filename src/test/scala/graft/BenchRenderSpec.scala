package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Bench stdout-line rendering: the driver captures only the LAST ~2000
  * chars of the bench process's output, and sbt appends its own
  * `[success] Total time: ...` line after ours — so the printed JSON must
  * stay under [[Bench.StdoutLineBudget]] for the FULL query suite or the
  * driver records parsed:null (this actually happened in rounds 8-9). These
  * specs render with every real SparkEntry query name so contract growth
  * that would re-break the tail capture fails CI instead of the driver.
  */
class BenchRenderSpec extends AnyFunSpec with Matchers {

  private def syntheticResults(err: Map[String, String] = Map.empty) =
    SparkEntry.staged.keys.toSeq.sorted.map { name =>
      // worst-case realistic widths: hundreds of seconds per query
      (name, 123.456789, 987.654321, err.get(name))
    }

  private def parse(json: String): Map[String, Any] = {
    // no JSON lib on the classpath beyond Spark's shaded ones; a tiny
    // structural check is enough — balanced braces, key presence, and that
    // Spark's own JSON parser accepts it
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json)
    node.fieldNames().hasNext shouldBe true
    import scala.jdk.CollectionConverters._
    node.properties().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  it("keeps the stdout line under the driver tail budget for the full suite") {
    val (line, _, _) = Bench.render(syntheticResults(), "/root/testdata/sf0.1", filtered = false)
    withClue(s"line length ${line.length}: ") {
      line.length should be <= Bench.StdoutLineBudget
    }
  }

  it("stays under budget even with errors present") {
    val errs = SparkEntry.staged.keys.toSeq.sorted.take(10)
      .map(n => n -> ("x" * 500)).toMap
    val (line, _, _) = Bench.render(syntheticResults(errs), "/root/testdata/sf0.1", filtered = false)
    line.length should be <= Bench.StdoutLineBudget
    val fields = parse(line)
    fields("error_count").toString.toInt shouldBe 10
    fields("errors").asInstanceOf[com.fasterxml.jackson.databind.JsonNode].size() shouldBe 3
  }

  it("stdout line is valid JSON with headline queries and group subtotals") {
    val (line, _, _) = Bench.render(syntheticResults(), "/root/testdata/sf0.1", filtered = false)
    val fields = parse(line)
    fields("n_queries").toString.toInt shouldBe SparkEntry.staged.size
    fields("unit").asInstanceOf[com.fasterxml.jackson.databind.JsonNode].asText() shouldBe "sec"
    val queries = fields("queries").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    import scala.jdk.CollectionConverters._
    val qNames = queries.fieldNames().asScala.toSeq
    qNames should not be empty
    all(qNames) should fullyMatch regex "q\\d+_.*"
    val groups = fields("groups").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    groups.fieldNames().asScala.toSeq should contain("q")
    // group subtotal must equal the sum of member query seconds (4 sig digits)
    val qTotal = SparkEntry.staged.keys.count(_.matches("q\\d+_.*")) * 987.654321
    groups.get("q").asDouble() shouldBe qTotal +- qTotal * 1e-3
  }

  it("full detail JSON carries every query, fixture and error at full precision") {
    val errs = Map(SparkEntry.staged.keys.min -> "boom")
    val (_, full, _) = Bench.render(syntheticResults(errs), "/root/testdata/sf0.1", filtered = false)
    val fields = parse(full)
    val queries = fields("queries").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    queries.size() shouldBe SparkEntry.staged.size
    queries.get(SparkEntry.staged.keys.min).asDouble() shouldBe 987.654321
    fields("fixtures").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
      .get(SparkEntry.staged.keys.min).asDouble() shouldBe 123.456789
    fields("errors").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
      .get(SparkEntry.staged.keys.min).asText() shouldBe "boom"
  }

  it("summary line carries EVERY query with the stdout line's keys intact") {
    // VERDICT r17 #2: bench_summary.json must expose all per-query seconds
    // (the stdout line stays q-family-only for the tail budget); the wide
    // line is additions-only — same keys, the q-family entries unchanged
    val (line, _, wide) = Bench.render(syntheticResults(), "/root/testdata/sf0.1", filtered = false)
    val wf = parse(wide)
    val wq = wf("queries").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    wq.size() shouldBe SparkEntry.staged.size
    val lf = parse(line)
    lf.keySet shouldBe wf.keySet
    val lq = lf("queries").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    import scala.jdk.CollectionConverters._
    lq.properties().asScala.foreach { e =>
      wq.get(e.getKey).asDouble() shouldBe e.getValue.asDouble()
    }
    wf("value").asInstanceOf[com.fasterxml.jackson.databind.JsonNode].asDouble() shouldBe
      lf("value").asInstanceOf[com.fasterxml.jackson.databind.JsonNode].asDouble()
  }

  it("filtered runs are self-identifying on both line and full JSON") {
    val (line, full, _) = Bench.render(syntheticResults().take(2), "/x", filtered = true)
    parse(line)("filtered").asInstanceOf[com.fasterxml.jackson.databind.JsonNode].asBoolean() shouldBe true
    parse(full)("selected").toString.toInt shouldBe 2
  }

  it("filtered runs write their summary to their own file") {
    Bench.summaryPath(filtered = false) shouldBe Bench.SummaryPath
    Bench.summaryPath(filtered = true) shouldBe Bench.FilteredSummaryPath
    Bench.FilteredSummaryPath should not be Bench.SummaryPath
  }

  it("carries the self-defense markers: loadavg pair and rerun audit, under budget") {
    val name = SparkEntry.staged.keys.min
    val (line, full, _) = Bench.render(syntheticResults(), "/root/testdata/sf0.1",
      filtered = false, loadavg = Some((1.25, 30.75)),
      reruns = Map(name -> ((9.23, 1.52))))
    withClue(s"line length ${line.length}: ") {
      line.length should be <= Bench.StdoutLineBudget
    }
    val fields = parse(line)
    val la = fields("loadavg").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    la.size() shouldBe 2
    la.get(0).asDouble() shouldBe 1.25
    la.get(1).asDouble() shouldBe 30.75
    // compact line: just the count; full JSON: the (first, kept) audit pair
    fields("reruns").toString.toInt shouldBe 1
    val fr = parse(full)("reruns").asInstanceOf[com.fasterxml.jackson.databind.JsonNode]
    fr.get(name).get(0).asDouble() shouldBe 9.23
    fr.get(name).get(1).asDouble() shouldBe 1.52
  }
}
