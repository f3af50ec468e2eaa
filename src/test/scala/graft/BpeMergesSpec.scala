package graft

import org.scalatest.funspec.AnyFunSpec

import graft.pipeline.TextAnalysis

/** learnBpeMerges vs a single-threaded reference BPE on the same word
  * dictionary, plus determinism across partitionings and the early-stop
  * rule.
  */
class BpeMergesSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  /** Reference greedy BPE (Sennrich-style) over a word-count dictionary. */
  private def refBpe(words: Map[String, Long], m: Int,
      minPair: Long = 2L): Seq[(Int, String, String, Long)] = {
    var dict = words.map { case (w, c) => (w.map(_.toString): Seq[String], c) }.toSeq
    val out = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 0
    var stop = false
    while (rank < m && !stop) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      dict.foreach { case (s, c) =>
        (0 until s.length - 1).foreach { j =>
          counts((s(j), s(j + 1))) = counts.getOrElse((s(j), s(j + 1)), 0L) + c
        }
      }
      if (counts.isEmpty) stop = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minPair) stop = true
        else {
          out += ((rank, l, r, c))
          dict = dict.map { case (s, cnt) =>
            val merged = scala.collection.mutable.ArrayBuffer.empty[String]
            var i = 0
            while (i < s.length) {
              if (i + 1 < s.length && s(i) == l && s(i + 1) == r) { merged += l + r; i += 2 }
              else { merged += s(i); i += 1 }
            }
            (merged.toSeq, cnt)
          }
          rank += 1
        }
      }
    }
    out.toSeq
  }

  private def tokenize(texts: Seq[String]): Map[String, Long] =
    texts.flatMap(_.toLowerCase.replaceAll("[^a-z0-9]+", " ").trim
        .split(" ").filter(_.nonEmpty))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap

  private val corpus = Seq(
    "the lowest lower low", "lowest of the low lowers", "newer newest new",
    "the newer the better", "wider widest wide wider", "low lower lowest")

  it("matches the reference merge table") {
    val df = corpus.toDF("text")
    val got = TextAnalysis.learnBpeMerges(df, "text", numMerges = 12)
      .orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
    val expected = refBpe(tokenize(corpus), 12)
    assert(expected.nonEmpty)
    assert(got == expected)
  }

  it("is partitioning-invariant") {
    val a = TextAnalysis.learnBpeMerges(corpus.toDF("text").repartition(7), "text", 6)
    val b = TextAnalysis.learnBpeMerges(corpus.toDF("text").repartition(1), "text", 6)
    assertSmallDataFrameEquality(a, b)
  }

  it("distributed tier agrees with the driver tier") {
    val df = corpus.toDF("text")
    val driver = TextAnalysis.learnBpeMerges(df, "text", 8)
    val dist = TextAnalysis.learnBpeMerges(df.repartition(5), "text", 8,
      maxDriverVocab = 0) // force the distributed loop
    assertSmallDataFrameEquality(dist, driver)
  }

  it("tokenizes with rank-priority merge application") {
    // merges: rank 0 (l,o); rank 1 (lo,w) — "low" -> ["low"], "lower" ->
    // ["low","e","r"], "slow" -> ["s","low"], untouched letters stay chars
    val merges = Seq((0, "l", "o", 10L), (1, "lo", "w", 5L))
      .toDF("rank", "left", "right", "pair_count")
    val out = TextAnalysis.bpeTokenize(
      Seq((1L, "low lower Slow ax!"), (2L, "")).toDF("id", "text"),
      "id", "text", merges)
      .orderBy("id").collect()
    assert(out(0).getString(2) == "low low e r s low a x")
    assert(out(0).getInt(1) == 8)
    assert(out(1).getInt(1) == 0 && out(1).getString(2) == "")
    // round trip: training merges then tokenizing the training corpus
    // yields exactly the symbols the final training dictionary held
    val learned = TextAnalysis.learnBpeMerges(corpus.toDF("text"), "text", 12)
    val toks = TextAnalysis.bpeTokenize(
      Seq((1L, "lowest newer")).toDF("id", "text"), "id", "text", learned)
      .head().getString(2)
    assert(toks.nonEmpty)
  }

  it("stops early when no pair recurs") {
    val df = Seq("ab cd ef").toDF("text") // every adjacent pair occurs once
    assert(TextAnalysis.learnBpeMerges(df, "text", 10).count() == 0)
  }

  it("tier agreement on a collision-prone repetitive corpus (surface interning)") {
    // runs of 'ab'/'a' force deep merge chains whose intermediate symbols
    // can reach the same surface string via different merge paths; the
    // distributed tier must intern minted symbols BY SURFACE (the driver
    // tier's string identity) — per-rank ids would split pair counts and
    // silently diverge the learned table
    val words = (1 to 12).flatMap(n => Seq("ab" * n, "a" * n, ("ab" * n) + "a"))
    val rows = words.zipWithIndex.flatMap { case (w, i) => Seq.fill(3 + (i * 7) % 11)(w) }
    val df = rows.toDF("text").repartition(5)
    val driver = TextAnalysis.learnBpeMerges(df, "text", 60)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val dist = TextAnalysis.learnBpeMerges(df, "text", 60, maxDriverVocab = 4)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    assert(dist == driver, "distributed tier diverged from driver on deep merge chains")
  }

  it("banded pair state (tiny resident bound) is bit-identical to the full-resident tier") {
    // force the pair-state BAND to a handful of pairs: the initial
    // admission threshold lands high, merges dig below it, and every
    // refill must admit the next band with submerged deltas applied —
    // output must not differ by a single bit from the driver tier
    val df = corpus.toDF("text")
    val driver = TextAnalysis.learnBpeMerges(df, "text", 12)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val words = tokenize(corpus).toSeq.toDS()
    val banded = TextAnalysis.distributedBpe(words, 12, minPairCount = 2L,
      maxResidentPairs = 12)
      .map(t => Seq(t._1, t._2, t._3, t._4))
    assert(banded == driver, "banded pair state diverged from the driver tier")

    // deep merge chains + surface interning + refills together: the
    // minted-id gains invariant (only minted-id pairs gain count) is what
    // keeps submerged original pairs honest — this corpus stresses it
    val rep = (1 to 12).flatMap(n => Seq("ab" * n, "a" * n, ("ab" * n) + "a"))
      .zipWithIndex.flatMap { case (w, i) => Seq.fill(3 + (i * 7) % 11)(w) }
    val repDriver = TextAnalysis.learnBpeMerges(rep.toDF("text"), "text", 60)
      .orderBy("rank").collect().map(_.toSeq).toSeq
    val repWords = rep.groupBy(identity).view.mapValues(_.size.toLong).toSeq.toDS()
    val repBanded = TextAnalysis.distributedBpe(repWords, 60, minPairCount = 2L,
      maxResidentPairs = 16)
      .map(t => Seq(t._1, t._2, t._3, t._4))
    assert(repBanded == repDriver,
      "banded pair state diverged on deep merge chains")
  }

  it("distributed tier frees its checkpointed generations without the lineage warning") {
    // enough merges that the distributed loop re-materializes its word
    // dictionary (every 64 accepted merges) more than once
    val words = (0 until 3000).map(i => "w" + Integer.toString(i * 7919 % 20011, 26))
    val df = words.toDF("text").repartition(4)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (merges, events) = rddLogEvents {
      TextAnalysis.learnBpeMerges(df, "text", 192, maxDriverVocab = 0).collect()
    }
    assert(merges.length == 192)
    val warned = events.filter(_.contains("locally checkpointed"))
    assert(warned.isEmpty, warned.mkString("\n"))
    val left = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs the BPE training registered are still persisted: $left")
  }

  it("incremental distributed tier: 4096 merges over a >1M-word vocabulary") {
    // The scale rehearsal for real tokenizer training: the dictionary
    // exceeds maxDriverVocab, so the run goes through the INCREMENTAL
    // distributed tier — one initial pair shuffle, then per round one
    // narrow cached scan plus an O(changed-pairs) delta collect (never a
    // dictionary shuffle per merge, which at 32k+ merges is weeks).
    // 4096 merges must complete here in job-overhead-bounded time, and the
    // merge-table prefix must be bit-identical to the driver tier's.
    import org.apache.spark.sql.functions.col
    val n = 1100000L
    def word(i: Long): String =
      "w" + java.lang.Long.toString(i, 26).map { c =>
        if (c <= '9') ('a' + (c - '0')).toChar else ('a' + 10 + (c - 'a')).toChar
      }
    val df = spark.range(n).select(col("id")).as[Long]
      .map(word).toDF("text").repartition(8)

    val t0 = System.nanoTime()
    val dist = TextAnalysis.learnBpeMerges(df, "text",
      numMerges = 4096, minPairCount = 2L) // 1.1M distinct words > 1M bound
    val distRows = dist.orderBy("rank").collect()
    val secs = (System.nanoTime() - t0) / 1e9
    info(f"4096 merges over ${n} words: $secs%.1f s")
    assert(distRows.length == 4096, s"expected 4096 merges, got ${distRows.length}")

    // overlap oracle: the driver tier (forced via a raised bound) must
    // produce the identical merge-table prefix
    val driver = TextAnalysis.learnBpeMerges(df, "text",
      numMerges = 64, minPairCount = 2L, maxDriverVocab = 2000000)
      .orderBy("rank").collect()
    assert(driver.length == 64)
    assert(distRows.take(64).map(_.toSeq).toSeq == driver.map(_.toSeq).toSeq,
      "distributed prefix diverged from the driver tier")
  }
}
