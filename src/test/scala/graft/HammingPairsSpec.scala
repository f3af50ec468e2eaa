package graft

import org.scalatest.funspec.AnyFunSpec

import graft.pipeline.Dedup

/** [[Dedup.hammingPairs]] against the brute-force O(n²) pair set on corpora
  * with heavy exact-duplicate mass, near-dup chains and unique tails, its
  * bucket-cap semantics against a reference implementation, and its
  * execution shape: one lazy plan whose upstream runs once per action.
  */
class HammingPairsSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private def brute(rows: Seq[(Long, java.lang.Long)], maxHamming: Int)
      : Set[(Long, Long, Int)] = {
    val hs = rows.collect { case (id, h) if h != null => (id, h.longValue) }
    (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= maxHamming
    } yield (a, b, d)).toSet
  }

  private def viaOperator(rows: Seq[(Long, java.lang.Long)], maxHamming: Int)
      : Set[(Long, Long, Int)] =
    Dedup.hammingPairs(rows.toDF("id", "h"), "id", "h", maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  describe("Dedup.hammingPairs") {
    it("matches brute force on a duplicate-heavy corpus") {
      // 8-member exact-duplicate groups with a 2-bit-perturbed member —
      // the mm5/mm6 shape that motivated the distinct-hash collapse
      val rows: Seq[(Long, java.lang.Long)] = (0L until 200L).map { id =>
        val base = (id / 8) * 0x9E3779B97F4A7C15L
        val h = if (id % 8 == 7) base ^ 0x0000010000000100L else base
        (id, Long.box(h))
      }
      assert(viaOperator(rows, 3) == brute(rows, 3))
    }

    it("matches brute force on pseudo-random hashes with nulls") {
      val rnd = new scala.util.Random(7)
      val rows: Seq[(Long, java.lang.Long)] = (0L until 150L).map { id =>
        val h: java.lang.Long =
          if (id % 17 == 0) null
          else if (id % 3 == 0) Long.box(rnd.nextLong() & 0xFFL) // dense low byte: many close pairs
          else Long.box(rnd.nextLong())
        (id, h)
      }
      assert(viaOperator(rows, 3) == brute(rows, 3))
      assert(viaOperator(rows, 6) == brute(rows, 6))
    }

    it("matches brute force at maxHamming 0 (exact groups only)") {
      val rows: Seq[(Long, java.lang.Long)] =
        (0L until 60L).map(id => (id, Long.box((id % 5) * 1234567L)))
      assert(viaOperator(rows, 0) == brute(rows, 0))
    }

    it("duplicate (id, hash) rows do not double-count members or pairs") {
      val base: Seq[(Long, java.lang.Long)] = (0L until 40L).map { id =>
        (id, Long.box((id / 4) * 0x9E3779B97F4A7C15L))
      }
      val dup = base ++ base.take(15) // repeat some rows verbatim
      assert(viaOperator(dup, 3) == brute(base, 3))
    }

    it("under a tiny cap, keeps every pair with ANY surviving shared bucket") {
      // documented cap semantics: duplicate groups over the cap drop whole;
      // chunk buckets holding more than cap distinct hashes drop whole; a
      // qualifying pair survives iff at least ONE of its shared chunk
      // buckets survives. P and Q share the over-cap chunk-0 bucket but
      // also a private chunk-2 bucket — an emit-from-first-shared-chunk
      // shortcut would lose them (the round-17 review finding).
      val cap = 4
      val maxHamming = 3
      // chunk c of a 64-bit hash = bits [16c, 16c+16)
      val clump = (1L to 5L).map(k => k << 16)            // 5 hashes: chunk0/2/3 = 0
      val p = (5L << 32) | (1L << 16)
      val q = (5L << 32) | (2L << 16)
      val giant = 0x123456789AL                            // a 6-copy group (> cap)
      val hashes: Seq[Long] = clump ++ Seq(p, q) ++ Seq.fill(6)(giant)
      val rows: Seq[(Long, java.lang.Long)] =
        hashes.zipWithIndex.map { case (h, i) => (i.toLong, Long.box(h)) }

      // reference implementation of the cap semantics over (id, hash)
      val byHash = rows.groupBy(_._2.longValue).view.mapValues(_.map(_._1)).toMap
      val keptGroups = byHash.filter(_._2.size <= cap)
      def chunkOf(h: Long, c: Int): Long = (h >>> (c * 16)) & 0xffff
      val bucketOf = (0 until 4).flatMap { c =>
        keptGroups.keys.groupBy(h => (c, chunkOf(h, c)))
      }.toMap
      val survives = bucketOf.filter { case (_, hs) => hs.size >= 2 && hs.size <= cap }
      val expectSame = for {
        (_, ids) <- keptGroups.toSeq if ids.size >= 2
        a <- ids; b <- ids if a < b
      } yield (a, b, 0)
      val ks = keptGroups.keys.toSeq
      val expectCross = for {
        ha <- ks; hb <- ks if ha < hb
        d = java.lang.Long.bitCount(ha ^ hb)
        if d <= maxHamming
        if (0 until 4).exists(c => chunkOf(ha, c) == chunkOf(hb, c) &&
          survives.contains((c, chunkOf(ha, c))))
        a <- byHash(ha); b <- byHash(hb)
      } yield (math.min(a, b), math.max(a, b), d)
      val expected = (expectSame ++ expectCross).toSet

      val got = Dedup.hammingPairs(rows.toDF("id", "h"), "id", "h",
          maxHamming, 64, cap)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected)
      // and the motivating pair is genuinely present
      val pid = rows.collectFirst { case (id, h) if h == p => id }.get
      val qid = rows.collectFirst { case (id, h) if h == q => id }.get
      assert(got.contains((math.min(pid, qid), math.max(pid, qid), 2)))
    }

    it("executes the expensive upstream exactly once per call (round-18 pin)") {
      // the upstream (an image decode, a text hash) feeds exactly one
      // exchange — the gather by hash — so it must run once per action
      // without relying on runtime exchange reuse. Count upstream
      // evaluations with an accumulator-instrumented hash column: one
      // consume of the operator must evaluate it exactly once per row,
      // with and without exact-duplicate groups.
      val acc = spark.sparkContext.longAccumulator("upstreamEvals")
      val hashFn = org.apache.spark.sql.functions.udf { (id: Long, dup: Boolean) =>
        acc.add(1L)
        if (dup) (id / 4) * 0x9E3779B97F4A7C15L else id * 0x9E3779B97F4A7C15L
      }
      for (dup <- Seq(false, true)) {
        acc.reset()
        val hashed = spark.range(0, 64).toDF("id")
          .withColumn("h", hashFn(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.lit(dup)))
        val pairs = Dedup.hammingPairs(hashed, "id", "h", maxHamming = 3)
        pairs.collect() // one consume of the full operator output
        assert(acc.value == 64L,
          s"upstream hash evaluated ${acc.value} times for 64 rows (dup=$dup)")
      }
    }

    it("simhashPairs hashes each token once per action") {
      // the per-row SimHash feeds the gather directly: neither the no-token
      // filter nor the null-hash filter may re-run the token hashing
      val acc = spark.sparkContext.longAccumulator("tokenHashes")
      val countingHash = org.apache.spark.sql.functions.udf { (t: String) =>
        acc.add(1L)
        t.hashCode.toLong
      }
      val texts: Seq[(Long, String)] =
        (0L until 50L).map(id => (id, s"w${id % 7} common words ${id / 5}")) ++
          Seq((50L, null), (51L, ""), (52L, " ?! "))
      val docs = texts.toDF("doc_id", "text")
      acc.reset()
      Dedup.simhashPairs(docs, "doc_id", "text", tokenHash = countingHash(_)).collect()
      assert(acc.value == 50L * 4, s"${acc.value} token hashes for 200 tokens")
    }

    it("is lazy: building runs no job, a collect is one SQL execution, no blocks stay") {
      import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
      import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
      val docs = (0L until 200L).map { id =>
        (id, s"doc ${id / 3} shared words here ${if (id % 3 == 2) "extra" else ""}")
      }.toDF("doc_id", "text")
      val hashed = (0L until 100L).map(id => (id, (id / 4) * 0x9E3779B97F4A7C15L))
        .toDF("id", "h")
      val assets = graft.pipeline.Multimodal.synthesizePatternPngAssets(
        spark, spark.range(0, 24).toDF("doc_id"), "doc_id")
      val builders: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
        "simhashPairs" -> (() => Dedup.simhashPairs(docs, "doc_id", "text")),
        "hammingPairs" -> (() => Dedup.hammingPairs(hashed, "id", "h")),
        "imageNearDupPairs" -> (() => graft.pipeline.Multimodal.imageNearDupPairs(assets)))
      // jobs and SQL executions started under this thread's job group
      val group = s"hamming-lazy-${System.nanoTime()}"
      val jobs = new java.util.concurrent.atomic.AtomicInteger()
      val executions = new java.util.concurrent.atomic.AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
            jobs.incrementAndGet()
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
            executions.incrementAndGet()
          case _ =>
        }
      }
      val sc = spark.sparkContext
      sc.addSparkListener(listener)
      sc.setJobGroup(group, "hammingPairs laziness")
      try {
        for ((name, build) <- builders) {
          val before = sc.getPersistentRDDs.keySet
          org.apache.spark.ListenerBusDrain(sc)
          jobs.set(0); executions.set(0)
          val pairs = build()
          org.apache.spark.ListenerBusDrain(sc)
          assert(jobs.get == 0 && executions.get == 0,
            s"building $name ran ${jobs.get} jobs in ${executions.get} SQL executions")
          pairs.collect()
          org.apache.spark.ListenerBusDrain(sc)
          assert(executions.get == 1, s"$name collect ran ${executions.get} SQL executions")
          val left = sc.getPersistentRDDs.keySet -- before
          assert(left.isEmpty, s"$name left RDDs persisted: $left")
        }
      } finally {
        sc.clearJobGroup()
        sc.removeSparkListener(listener)
      }
    }
  }
}
