package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}
import org.scalatest.funspec.AnyFunSpec

import graft.functions.SimHashFold
import graft.pipeline.Dedup

/** The [[SimHashFold]] kernel against a plain-Scala vote fold and against
  * the explode → groupBy → per-bit `sum(when …)` aggregate SimHash, through
  * the interpreted (`eval`) and generated-code paths and through
  * [[Dedup.simhash]] and [[Dedup.simhashColumn]] (GraftSqlFunctionsSpec pins
  * the SQL `simhash()` to the latter), at several widths and with both token
  * hashes.
  */
class SimHashKernelSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private val texts: Seq[(Long, String)] = Seq(
    1L -> null,
    2L -> "",
    3L -> "   \t  ",
    4L -> "!!! ??? ,,, ...",
    5L -> "İstanbul",
    6L -> "straße strasse STRASSE",
    7L -> "東京 大阪 京都",
    8L -> "The quick brown fox jumps over the lazy dog; the dog sleeps.",
    9L -> "numbers 123 and words mix 42 tokens 123 123")
  private val docs = texts.toDF("id", "text")

  private val tokenHashes: Seq[(String, Column => Column)] =
    Seq("xxhash64" -> (xxhash64(_)), "md5TokenHash32" -> Dedup.md5TokenHash32)

  private val widths = Seq(1, 16, 32, 64)

  /** Plain-Scala SimHash of a token-hash array. */
  private def referenceFold(hashes: Seq[java.lang.Long], bits: Int): Long = {
    val votes = new Array[Int](bits)
    hashes.filter(_ != null).foreach { h =>
      (0 until bits).foreach(i => votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
    }
    (0 until bits).foldLeft(0L)((acc, i) => if (votes(i) > 0) acc | (1L << i) else acc)
  }

  /** The explode → groupBy → `bits` conditional sums formulation. */
  private def aggregateSimhash(df: DataFrame, bits: Int, tokenHash: Column => Column): DataFrame = {
    val exploded = df.select(col("id"), explode(Dedup.tokenize(col("text"))).as("__tok"))
      .filter(length(col("__tok")) > 0)
      .withColumn("__h", tokenHash(col("__tok")))
    val votes = (0 until bits).map { i =>
      sum(when(shiftright(col("__h"), i).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"__b$i")
    }
    val hash = (0 until bits)
      .map(i => when(col(s"__b$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    exploded.groupBy(col("id")).agg(votes.head, votes.tail: _*)
      .select(col("id"), hash.as("simhash"))
  }

  /** Token hashes per document (None for null text). */
  private def tokenHashArrays(tokenHash: Column => Column): Map[Long, Option[Seq[java.lang.Long]]] =
    docs.select(col("id"),
        transform(array_remove(Dedup.tokenize(col("text")), ""), tokenHash).as("hs"))
      .collect().map { r =>
        r.getLong(0) -> Option(r.getSeq[java.lang.Long](1)).map(_.toSeq)
      }.toMap

  private def arrayData(hs: Seq[java.lang.Long]) =
    new GenericArrayData(hs.map(h => h: Any).toArray)

  private def viaEval(hs: Option[Seq[java.lang.Long]], bits: Int): Option[Long] =
    Option(SimHashFold(Literal(hs.map(arrayData).orNull, ArrayType(LongType)), bits)
      .eval(null)).map(_.asInstanceOf[Long])

  private def viaCodegen(hs: Option[Seq[java.lang.Long]], bits: Int): Option[Long] = {
    val proj = GenerateUnsafeProjection.generate(
      Seq(SimHashFold(BoundReference(0, ArrayType(LongType), nullable = true), bits)))
    val out = proj(InternalRow(hs.map(arrayData).orNull))
    if (out.isNullAt(0)) None else Some(out.getLong(0))
  }

  it("is generated code, not a codegen fallback") {
    assert(!SimHashFold(Literal(null, ArrayType(LongType)), 64).isInstanceOf[CodegenFallback])
  }

  it("eval and codegen equal the reference fold on nulls, empties and null elements") {
    val cases: Seq[Option[Seq[java.lang.Long]]] = Seq(
      None,
      Some(Nil),
      Some(Seq(null, null)),
      Some(Seq(Long.box(-1L), null, Long.box(0L), Long.box(0x8000000000000001L))),
      Some(Seq(Long.box(5L), Long.box(5L), Long.box(6L))))
    for (bits <- widths; hs <- cases) {
      val want = hs.map(referenceFold(_, bits))
      assert(viaEval(hs, bits) == want, s"eval, bits=$bits, $hs")
      assert(viaCodegen(hs, bits) == want, s"codegen, bits=$bits, $hs")
    }
  }

  for ((hashName, tokenHash) <- tokenHashes; bits <- widths) {
    it(s"every entry point agrees with the reference fold ($hashName, $bits bits)") {
      val arrays = tokenHashArrays(tokenHash)
      val reference = arrays.map { case (id, hs) => id -> hs.map(referenceFold(_, bits)) }
      arrays.foreach { case (id, hs) =>
        assert(viaEval(hs, bits) == reference(id), s"eval, doc $id")
        assert(viaCodegen(hs, bits) == reference(id), s"codegen, doc $id")
      }
      // the DataFrame SimHash keeps exactly the documents with a token
      val withTokens = reference.collect { case (id, Some(h)) if arrays(id).get.nonEmpty => id -> h }
      val perRow = Dedup.simhash(docs, "id", "text", bits, tokenHash)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perRow == withTokens)
      val aggregated = aggregateSimhash(docs, bits, tokenHash)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(aggregated == withTokens)
      if (hashName == "xxhash64") {
        val scalar = docs.select(col("id"), Dedup.simhashColumn(col("text"), bits))
          .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1))))
          .toMap
        assert(scalar == reference)
        assert(scalar(1L).isEmpty && scalar(2L).contains(0L) && scalar(7L).contains(0L))
      }
    }
  }
}
