package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft.SparkBridge
import org.apache.spark.sql.types.IntegerType

import graft.pipeline.{Dedup, TextAnalysis}

/** SQL registration for graft's custom expressions and text/dedup builders,
  * so the SQL surface matches the Column API:
  *
  *  - `minhash_signature(shingles array<bigint> [, numHashes int = 64
  *    [, seed bigint = 42]])` — the codegen'd Catalyst expression
  *    ([[graft.pipeline.Dedup.minhashSignature]]);
  *  - `tokenize(text)` — normalized word tokens
  *    ([[graft.pipeline.Dedup.tokenize]]);
  *  - `shingles(text, n int)` — hashed word n-gram shingles
  *    ([[graft.pipeline.Dedup.shingles]]);
  *  - `simhash(text [, bits int = 64])` — per-document SimHash, the
  *    codegen'd [[SimHashFold]] kernel over xxhash64 token hashes
  *    ([[graft.pipeline.Dedup.simhashColumn]]);
  *  - `quality_score(text)` — composite quality heuristic
  *    ([[graft.pipeline.TextAnalysis.qualityScore]]);
  *  - `fingerprint(text)` — normalized-content md5
  *    ([[graft.pipeline.TextAnalysis.fingerprint]]);
  *  - `lang_id(text)` — marker-based language heuristic
  *    ([[graft.pipeline.TextAnalysis.langId]]);
  *  - `cosine_sim(a array<numeric>, b array<numeric>)` — cosine similarity
  *    ([[graft.pipeline.Similarity.cosineSimilarity]]; NULL on NULL or
  *    zero-normed inputs);
  *  - `hash_rank(seed string, key)` — the deterministic sampling rank in
  *    `[0, 2^32)` behind [[graft.pipeline.Sampling]] (`WHERE
  *    hash_rank('42', doc_id) < 0.25 * 4294967296` is a reproducible 25%
  *    sample, engine- and partitioning-independent);
  *  - `pii_redact(text)` — emails/IPv4/phone runs replaced by typed
  *    placeholders ([[graft.pipeline.TextAnalysis.piiRedact]]).
  *
  * Parameters that select a code shape (hash counts, shingle width, bit
  * width) must be LITERALS — like `round`'s scale argument — and are
  * validated at registration-function call time, erroring by name.
  */
object GraftFunctions {

  /** Register all graft SQL functions on `spark` (session-scoped). */
  def register(spark: SparkSession): Unit = {
    SparkBridge.registerFunction(spark, "minhash_signature", minhashBuilder)
    SparkBridge.registerFunction(spark, "tokenize",
      unary("tokenize", Dedup.tokenize))
    SparkBridge.registerFunction(spark, "shingles", shinglesBuilder)
    SparkBridge.registerFunction(spark, "simhash", simhashBuilder)
    SparkBridge.registerFunction(spark, "quality_score",
      unary("quality_score", TextAnalysis.qualityScore))
    SparkBridge.registerFunction(spark, "fingerprint",
      unary("fingerprint", TextAnalysis.fingerprint))
    SparkBridge.registerFunction(spark, "lang_id",
      unary("lang_id", TextAnalysis.langId))
    SparkBridge.registerFunction(spark, "cosine_sim",
      binary("cosine_sim", graft.pipeline.Similarity.cosineSimilarity))
    SparkBridge.registerFunction(spark, "hash_rank",
      binary("hash_rank", (seed, key) =>
        graft.pipeline.Sampling.hashRank(litString("hash_rank", "seed", seed), Seq(key))))
    SparkBridge.registerFunction(spark, "pii_redact",
      unary("pii_redact", TextAnalysis.piiRedact))
    SparkBridge.registerFunction(spark, "frequent_items", frequentItemsBuilder)
    SparkBridge.registerFunction(spark, "quantile_sketch", quantileSketchBuilder)
    SparkBridge.registerFunction(spark, "sketch_quantile", sketchQuantileBuilder)
    SparkBridge.registerFunction(spark, "url_host",
      unary("url_host", TextAnalysis.urlHost))
    SparkBridge.registerFunction(spark, "url_domain",
      unary("url_domain", u => TextAnalysis.urlRegisteredDomain(TextAnalysis.urlHost(u))))
    SparkBridge.registerFunction(spark, "url_path_depth",
      unary("url_path_depth", TextAnalysis.urlPathDepth))
  }

  /** Column-API surface of the mergeable KLL-style quantile summary:
    * `quantileSketch(v, k)` aggregates, `sketchQuantile(sketch, p)` reads
    * estimates out ([[QuantileSketchAgg]] / [[SketchQuantile]]).
    */
  def quantileSketch(v: Column, k: Int): Column =
    SparkBridge.column(
      QuantileSketchAgg(SparkBridge.expression(v.cast("double")), k).toAggregateExpression())

  def sketchQuantile(sketch: Column, p: Double): Column =
    SparkBridge.column(SketchQuantile(
      SparkBridge.expression(sketch),
      org.apache.spark.sql.catalyst.expressions.Literal(p)))

  private[functions] def quantileSketchBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"quantile_sketch expects 2 arguments (value, k), got ${exprs.length}")
    val k = litInt("quantile_sketch", "k", exprs(1))
    require(k >= 8, s"quantile_sketch: k must be >= 8, got $k")
    QuantileSketchAgg(exprs.head, k)
  }

  private[functions] def sketchQuantileBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"sketch_quantile expects 2 arguments (sketch, p), got ${exprs.length}")
    SketchQuantile(exprs.head, exprs(1))
  }

  private[functions] def frequentItemsBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"frequent_items expects 2 arguments (item, capacity), got ${exprs.length}")
    val capacity = litInt("frequent_items", "capacity", exprs(1))
    require(capacity >= 1, s"frequent_items: capacity must be >= 1, got $capacity")
    // bare AggregateFunction: the analyzer wraps registry-built aggregates
    // in an AggregateExpression exactly as it does for built-ins
    FrequentItemsAgg(exprs.head, capacity)
  }

  private def litString(fn: String, name: String, c: Column): String =
    SparkBridge.catalystExpression(c) match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a string literal, got ${other.sql}")
    }

  private[functions] def minhashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.nonEmpty && exprs.length <= 3,
      s"minhash_signature expects 1 to 3 arguments, got ${exprs.length}")
    val numHashes = exprs.lift(1).map(litInt("minhash_signature", "numHashes", _)).getOrElse(64)
    val seed = exprs.lift(2).map(litLong("minhash_signature", "seed", _)).getOrElse(42L)
    MinHashSignature(exprs.head, numHashes, seed)
  }

  private[functions] def shinglesBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"shingles expects 2 arguments (text, n), got ${exprs.length}")
    val n = litInt("shingles", "n", exprs(1))
    require(n >= 1, s"shingles: n must be >= 1, got $n")
    SparkBridge.catalystExpression(Dedup.shingles(SparkBridge.column(exprs.head), n))
  }

  private[functions] def simhashBuilder(exprs: Seq[Expression]): Expression = {
    require(exprs.nonEmpty && exprs.length <= 2,
      s"simhash expects 1 or 2 arguments (text [, bits]), got ${exprs.length}")
    val bits = exprs.lift(1).map(litInt("simhash", "bits", _)).getOrElse(64)
    require(bits >= 1 && bits <= 64, s"simhash: bits must be in [1, 64], got $bits")
    SparkBridge.catalystExpression(Dedup.simhashColumn(SparkBridge.column(exprs.head), bits))
  }

  private def unary(name: String, f: Column => Column)(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 1, s"$name expects exactly 1 argument, got ${exprs.length}")
    SparkBridge.catalystExpression(f(SparkBridge.column(exprs.head)))
  }

  private def binary(name: String, f: (Column, Column) => Column)(
      exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2, s"$name expects exactly 2 arguments, got ${exprs.length}")
    SparkBridge.catalystExpression(
      f(SparkBridge.column(exprs.head), SparkBridge.column(exprs(1))))
  }

  private def litInt(fn: String, name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an integer literal, got ${other.sql}")
  }

  private def litLong(fn: String, name: String, e: Expression): Long = e match {
    case Literal(v: Int, IntegerType) => v.toLong
    case Literal(v: Long, _)          => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a long literal, got ${other.sql}")
  }
}
