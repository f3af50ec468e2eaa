package graft

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.pipeline.{Dedup, TextAnalysis}

/** Every SQL-registered text/dedup function must agree exactly with the
  * Column API it fronts (the SQL surface is the same expression tree, so
  * any drift is a registration bug), and shape-selecting arguments must be
  * validated as literals by name.
  */
class GraftSqlFunctionsSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  graft.functions.GraftFunctions.register(spark)

  private val docs = Seq(
    (1L, "The quick brown fox, jumps over the lazy dog. The dog sleeps."),
    (2L, "der hund und die katze ist da"),
    (3L, "Short."),
    (4L, "  punctuation!!! ??? ,,,   "),
    (5L, ""),
    (6L, null.asInstanceOf[String]),
    (7L, "numbers 123 and words mix 42 tokens 123")
  ).toDF("id", "text")

  docs.createOrReplaceTempView("sqlfn_docs")

  /** Assert SQL output ≡ Column output over the shared fixture. */
  private def assertSqlEqualsColumn(sqlExpr: String, column: org.apache.spark.sql.Column): Unit = {
    val bad = spark.sql(s"SELECT id, $sqlExpr AS v FROM sqlfn_docs")
      .join(docs.select($"id", column.as("expected")), "id")
      .filter(not($"v" <=> $"expected"))
      .count()
    assert(bad == 0, s"SQL '$sqlExpr' diverged from the Column API")
  }

  it("tokenize ≡ Dedup.tokenize") {
    assertSqlEqualsColumn("tokenize(text)", Dedup.tokenize($"text"))
  }

  it("shingles ≡ Dedup.shingles at the same n") {
    assertSqlEqualsColumn("shingles(text, 3)", Dedup.shingles($"text", 3))
    assertSqlEqualsColumn("shingles(text, 1)", Dedup.shingles($"text", 1))
  }

  it("simhash ≡ Dedup.simhashColumn at 64 and narrow widths") {
    assertSqlEqualsColumn("simhash(text)", Dedup.simhashColumn($"text"))
    assertSqlEqualsColumn("simhash(text, 16)", Dedup.simhashColumn($"text", 16))
  }

  it("scalar simhash ≡ aggregated DataFrame simhash per document") {
    // the scalar form must reproduce Dedup.simhash bit-for-bit (docs with
    // no tokens are absent from the DataFrame form)
    val viaDf = Dedup.simhash(docs, "id", "text")
      .withColumnRenamed("simhash", "agg_simhash")
    val bad = docs.select($"id", Dedup.simhashColumn($"text").as("scalar"))
      .join(viaDf, "id")
      .filter(not($"scalar" <=> $"agg_simhash"))
      .count()
    assert(bad == 0, "scalar simhash diverged from the DataFrame implementation")
    // ids 1,2,3,4,7 tokenize non-empty (5 is empty, 6 null) — the join
    // above must actually have compared them all
    assert(viaDf.count() == 5)
  }

  it("quality_score ≡ TextAnalysis.qualityScore") {
    assertSqlEqualsColumn("quality_score(text)", TextAnalysis.qualityScore($"text"))
  }

  it("fingerprint ≡ TextAnalysis.fingerprint") {
    assertSqlEqualsColumn("fingerprint(text)", TextAnalysis.fingerprint($"text"))
  }

  it("lang_id ≡ TextAnalysis.langId") {
    assertSqlEqualsColumn("lang_id(text)", TextAnalysis.langId($"text"))
  }

  it("pii_redact ≡ TextAnalysis.piiRedact") {
    assertSqlEqualsColumn("pii_redact(text)", TextAnalysis.piiRedact($"text"))
  }

  it("url_host / url_domain / url_path_depth ≡ their Column builders") {
    val urls = Seq(
      "https://user@www.news.co.uk:443/world/2024/story?ref=rss",
      "http://10.0.0.1/raw", "ftp://files.example.net/pub/a.bin",
      "example.com/a/b", "https://apex.org").toDF("url")
    urls.createOrReplaceTempView("sqlfn_urls")
    val viaSql = spark.sql(
      "SELECT url_host(url), url_domain(url), url_path_depth(url) FROM sqlfn_urls")
      .collect().map(_.toSeq)
    val viaCol = urls.select(
      TextAnalysis.urlHost($"url"),
      TextAnalysis.urlRegisteredDomain(TextAnalysis.urlHost($"url")),
      TextAnalysis.urlPathDepth($"url"))
      .collect().map(_.toSeq)
    assert(viaSql.toSeq == viaCol.toSeq)
    assert(viaSql.head == Seq("www.news.co.uk", "news.co.uk", 3))
  }

  it("cosine_sim ≡ Similarity.cosineSimilarity, with NULL/zero-norm semantics") {
    val vecs = Seq(
      (1L, Array(1.0, 0.0, 2.0), Array(1.0, 0.0, 2.0)),   // identical → 1.0
      (2L, Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0)),   // orthogonal → 0.0
      (3L, Array(1.0, 2.0, 3.0), Array(-1.0, -2.0, -3.0)), // opposite → -1.0
      (4L, Array(0.0, 0.0, 0.0), Array(1.0, 1.0, 1.0))    // zero norm → NULL
    ).toDF("id", "a", "b")
    vecs.createOrReplaceTempView("sqlfn_vecs")
    val bad = spark.sql("SELECT id, cosine_sim(a, b) AS v FROM sqlfn_vecs")
      .join(vecs.select($"id",
        graft.pipeline.Similarity.cosineSimilarity($"a", $"b").as("expected")), "id")
      .filter(not($"v" <=> $"expected")).count()
    assert(bad == 0)
    val got = spark.sql(
      "SELECT id, round(cosine_sim(a, b), 9) AS v FROM sqlfn_vecs ORDER BY id")
      .collect().map(r => (r.getLong(0), Option(r.get(1))))
    assert(got.toSeq == Seq(1L -> Some(1.0), 2L -> Some(0.0),
      3L -> Some(-1.0), 4L -> None))
  }

  it("hash_rank ≡ Sampling.hashRank; seed must be a string literal") {
    assertSqlEqualsColumn("hash_rank('42', id)",
      graft.pipeline.Sampling.hashRank("42", Seq($"id")))
    val e = intercept[Exception] {
      spark.sql("SELECT hash_rank(text, id) FROM sqlfn_docs").collect()
    }
    assert(e.getMessage.contains("hash_rank") &&
      e.getMessage.contains("seed must be a string literal"), e.getMessage)
  }

  it("frequent_items aggregates from SQL and matches the Column API") {
    val sql = spark.sql(
      """SELECT fi.items AS items, fi.max_error AS max_error FROM (
        |  SELECT frequent_items(w, 64) AS fi
        |  FROM (SELECT explode(tokenize(text)) AS w FROM sqlfn_docs) t
        |  WHERE w <> '') s""".stripMargin).head()
    val col = docs
      .select(explode(Dedup.tokenize($"text")).as("w")).filter($"w" =!= "")
      .agg(TextAnalysis.frequentItems($"w", 64).as("fi"))
      .select($"fi.items", $"fi.max_error").head()
    assert(sql == col)
    assert(sql.getLong(1) == 0L) // exact regime
    val e = intercept[Exception] {
      spark.sql("SELECT frequent_items(text, CAST(id AS INT)) FROM sqlfn_docs").collect()
    }
    assert(e.getMessage.contains("frequent_items") &&
      e.getMessage.contains("capacity must be an integer literal"), e.getMessage)
  }

  it("fingerprint is reformat-invariant where the Column contract says so") {
    val r = spark.sql(
      "SELECT fingerprint('Hello,   World!') = fingerprint('hello world') AS same").head()
    assert(r.getBoolean(0))
  }

  it("shape arguments must be literals, erroring by function and name") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT shingles(text, CAST(id AS INT)) FROM sqlfn_docs").collect()
    }
    assert(e1.getMessage.contains("shingles") && e1.getMessage.contains("n must be an integer literal"),
      e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("SELECT simhash(text, CAST(id AS INT)) FROM sqlfn_docs").collect()
    }
    assert(e2.getMessage.contains("simhash") && e2.getMessage.contains("bits must be an integer literal"),
      e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("SELECT simhash(text, 65) FROM sqlfn_docs").collect()
    }
    assert(e3.getMessage.contains("bits must be in [1, 64]"), e3.getMessage)
    val e4 = intercept[Exception] {
      spark.sql("SELECT quality_score(text, 2) FROM sqlfn_docs").collect()
    }
    assert(e4.getMessage.contains("quality_score expects exactly 1 argument"), e4.getMessage)
  }
}
