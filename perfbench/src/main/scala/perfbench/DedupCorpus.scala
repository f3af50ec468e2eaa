package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.pipeline.Dedup
import graft.tables.GraftTable

/** One generated document; `plantedFrom` is the original it copies
  * (exactly, or with the near-duplicate marker appended), -1 for an original.
  */
final case class Doc(id: Long, text: String, lang: String, source: String, plantedFrom: Long, exact: Boolean) {
  def row: Row = Row(id, text, lang, source, text.length.toLong)
}

/** The seeded corpus of `dedup_corpus`, shaped after the library's sf0.1
  * `documents` test corpus (measured in METRICS.md): words drawn uniformly
  * from its 30-word vocabulary, 10–99 words a document, its language mix
  * and 20 sources; a near duplicate is an earlier document with the token
  * `dup` appended, as there. Each pass is a fresh batch with a fixed number
  * of planted near and exact copies of earlier documents of the batch.
  */
final class CorpusGen(seed: Long) {
  import CorpusGen._

  def pass(p: Int): IndexedSeq[Doc] = {
    val r = Gen.rng(seed, 0xD0C5L, p)
    val ids = (0 until PassDocs).map(j => p.toLong * PassDocs + j)
    // which positions hold copies: never among the first few, so each copy
    // has an earlier original to copy
    val slots = mutable.LinkedHashSet.empty[Int]
    while (slots.size < NearCopies + ExactCopies) slots += 16 + r.nextInt(PassDocs - 16)
    val exactAt = slots.take(ExactCopies)
    val nearAt = slots.drop(ExactCopies)
    val docs = mutable.ArrayBuffer.empty[Doc]
    val originals = mutable.ArrayBuffer.empty[Doc]
    ids.zipWithIndex.foreach { case (id, j) =>
      if (exactAt(j) || nearAt(j)) {
        val src = originals(r.nextInt(originals.size))
        docs += (if (exactAt(j)) src.copy(id = id, plantedFrom = src.id, exact = true)
          else Doc(id, s"${src.text} $NearMarker", lang(r), Sources(r.nextInt(Sources.length)), src.id, exact = false))
      } else {
        val text = Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(Vocabulary(r.nextInt(Vocabulary.length)))
          .mkString(" ")
        val d = Doc(id, text, lang(r), Sources(r.nextInt(Sources.length)), -1L, exact = false)
        docs += d; originals += d
      }
    }
    docs.toIndexedSeq
  }

  private def lang(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    Langs.find(_._2 > u).fold(Langs.last._1)(_._1)
  }
}

object CorpusGen {
  val PassDocs = 1000
  /** Batches the fixture starts with: 4 000 documents, near the size of the
    * sf0.1 corpus (5 000).
    */
  val InitialPasses = 4
  /** The sf0.1 corpus's vocabulary; its words occur equally often. */
  val Vocabulary: Array[String] = Array("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan",
    "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")
  val MinWords = 10
  val MaxWords = 99
  val NearMarker = "dup"
  /** 5.0 % near copies, 0.16 % exact copies (at least one), as in the corpus. */
  val NearCopies: Int = math.round(PassDocs * 0.05).toInt
  val ExactCopies: Int = math.max(1, math.round(PassDocs * 0.0016).toInt)
  val MinhashThreshold = 0.8
  val MaxHamming = 3
  /** Languages with their cumulative shares in the corpus. */
  private val Langs = Array("en" -> 0.412, "zh" -> 0.563, "es" -> 0.712, "fr" -> 0.860, "de" -> 1.0)
  private val Sources = Array.tabulate(20)(i => s"src$i")

  /** Word 3-gram sets, compared exactly (no hashing). */
  def shingles(text: String): Set[String] = {
    val w = text.split(" ").filter(_.nonEmpty)
    if (w.length < 3) Set(w.mkString(" ")) else w.sliding(3).map(_.mkString(" ")).toSet
  }

  def jaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  /** 64-bit SimHash with Spark's per-token xxhash64 (seed 42): bit i is set
    * when more token occurrences have bit i set than not.
    */
  def simhash(text: String): Long = {
    val votes = new Array[Int](64)
    text.split(" ").filter(_.nonEmpty).foreach { tok =>
      val s = UTF8String.fromString(tok)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      (0 until 64).foreach(i => votes(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1))
    }
    (0 until 64).foldLeft(0L)((acc, i) => if (votes(i) > 0) acc | (1L << i) else acc)
  }
}

/** `dedup_corpus`: compute- and shuffle-bound pipeline work with one append
  * commit per pass. Each pass runs exact dedup, MinHash dedup on the exact
  * survivors and SimHash pairs on them, then appends the MinHash survivors.
  */
final class DedupCorpus(spark: SparkSession, seed: Long) extends Workload {
  import CorpusGen._
  import Workload._

  private val schema = Gen.docsSchema
  private val hasher = new RowHasher(schema)
  private val corpus = new CorpusGen(seed)
  private var t: GraftTable = _
  private var nextPass = InitialPasses + 1
  private val failures = mutable.ArrayBuffer.empty[String]
  private lazy val initial = (0 until InitialPasses).map(p => corpus.pass(p).map(_.row))
  private var expected = Fingerprint.empty
  private var perturbed = false

  def table: GraftTable = t
  def perturb(): Unit = { perturbed = true; expected += 1L }
  def prepare(): Unit = expected = Fingerprint.of(initial.iterator.flatten.map(hasher(_)))

  /** The table starts with the first batches as they came (not
    * deduplicated), one commit each.
    */
  def build(dir: Path): Unit = {
    val path = dir.resolve("documents").toString
    GraftTable.create(spark, path, rowsDF(spark, initial.head, schema))
    initial.tail.foreach(b => GraftTable.forPath(spark, path).append(rowsDF(spark, b, schema)))
  }

  def open(dir: Path): Unit = {
    t = GraftTable.forPath(spark, dir.resolve("documents").toString)
    graft.PerfbenchProbe.watchFolds(t.path)
  }

  def warmup(): Unit = pass(InitialPasses, new Recorder(spark, traced = false))

  def round(rec: Recorder): Unit = { val p = nextPass; nextPass += 1; pass(p, rec) }

  private def pass(p: Int, rec: Recorder): Unit = {
    val docs = corpus.pass(p)
    val batch = rowsDF(spark, docs.map(_.row), schema)
    var exact: DataFrame = null
    var survivors: DataFrame = null
    probeTables(rec, t, t.version - 1)
    val (exactFp, survFp, pairs) = rec.op("dedup", docs.size.toLong) {
      folds(rec, t, "dedup") {
        val ef = rec.timed("pipeline.exact", "pipeline.exact_s") {
          exact = Dedup.exact(batch, Seq("text"), "doc_id").cache()
          Fingerprint.consume(exact)
        }
        val sf = rec.timed("pipeline.minhash", "pipeline.minhash_s") {
          survivors = Dedup.minhashDedup(exact, "doc_id", "text", MinhashThreshold).cache()
          Fingerprint.consume(survivors)
        }
        val ps = rec.timed("pipeline.simhash", "pipeline.simhash_s") {
          Dedup.simhashPairs(exact, "doc_id", "text", MaxHamming).collect()
        }
        (ef, sf, ps)
      }
    }
    probeTables(rec, t, t.version - 1)
    val before = if (rec.traced) dirBytes(t.path) else 0L
    rec.op("append") {
      folds(rec, t, "append")(rec.span("tables.append")(t.append(survivors)))
    }
    if (rec.traced) rec.sample("tables.bytes_written.append", (dirBytes(t.path) - before).toDouble)
    val survivorIds = survivors.select("doc_id").collect().map(_.getLong(0))
    exact.unpersist(); survivors.unpersist()
    checkPass(p, docs, exactFp, survFp, survivorIds, pairs)
    rec.sample("pipeline.minhash_removed", (exactFp.rows - survFp.rows).toDouble)
    rec.sample("pipeline.simhash_pairs", pairs.length.toDouble)
    rec.sample("pipeline.survivor_ratio", survFp.rows.toDouble / docs.size)
    val byId = docs.iterator.map(d => d.id -> d).toMap
    survivorIds.foreach(id => expected += hasher(byId(id).row))
  }

  /** The exact survivors are the lowest id of each distinct text; every doc
    * MinHash removed near-duplicates a lower id; every SimHash pair is
    * within the distance. All recomputed here without Spark or graft.
    */
  private def checkPass(p: Int, docs: IndexedSeq[Doc], exactFp: Fingerprint, survFp: Fingerprint,
      survivorIds: Array[Long], pairs: Array[Row]): Unit = {
    val firstOfText = docs.groupBy(_.text).values.map(_.minBy(_.id)).toSeq
    val wantExact = Fingerprint.of(firstOfText.iterator.map(d => hasher(d.row)) ++ Iterator(1L).filter(_ => perturbed))
    if (exactFp != wantExact) failures += s"pass $p exact dedup: $exactFp, reference $wantExact"
    // a perturbed reference drops the lowest exact survivor, names the
    // originals as the planted copies and miscounts the collected survivors
    val exactIds = firstOfText.map(_.id).toSet -- (if (perturbed) Seq(firstOfText.map(_.id).min) else Nil)
    val byId = docs.iterator.map(d => d.id -> d).toMap
    val surv = survivorIds.toSet
    docs.filter(_.exact).map(d => if (perturbed) d.plantedFrom else d.id).foreach { id =>
      if (surv(id)) failures += s"pass $p: planted exact duplicate $id survived"
    }
    val collected = surv.size + (if (perturbed) 1 else 0)
    if (survFp.rows != collected) failures += s"pass $p: minhash output counted ${survFp.rows}, collected $collected"
    surv.filterNot(exactIds).foreach(id => failures += s"pass $p: minhash survivor $id is not an exact survivor")
    exactIds.filterNot(surv).foreach { id =>
      val d = byId(id)
      val partner = (if (d.plantedFrom >= 0) Iterator(d.plantedFrom) else Iterator.empty) ++
        exactIds.iterator.filter(_ < id)
      val threshold = if (perturbed) 1.01 else MinhashThreshold
      if (!partner.exists(q => jaccard(byId(q).text, d.text) >= threshold))
        failures += s"pass $p: minhash removed $id with no lower-id partner at jaccard >= $MinhashThreshold"
    }
    pairs.foreach { r =>
      val (a, b, h) = (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)
      val exactH = java.lang.Long.bitCount(simhash(byId(a).text) ^ simhash(byId(b).text) ^ (if (perturbed) 1L else 0L))
      if (exactH != h || exactH > MaxHamming)
        failures += s"pass $p: simhash pair ($a, $b) reported hamming $h, recomputed $exactH"
    }
  }

  def verify(): Seq[String] = {
    val got = Fingerprint.consume(t.toDF)
    if (got != expected) failures += s"documents table: $got, reference $expected"
    failures.toSeq
  }

  def report(rec: Recorder): Seq[(String, Double, String, Int)] = {
    val passes = rec.ops.grouped(2).map(_.map(_.wallS).sum).toSeq
    Seq(("docs_per_s", Stats.median(passes.map(PassDocs / _)), "1/s", passes.size))
  }
}
