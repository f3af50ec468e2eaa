package graft

import org.scalatest.funspec.AnyFunSpec

import graft.operators.GraftMerge
import graft.tables._

class GraftMergeSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  // single file so copied-row counts are deterministic (copies only happen
  // within rewritten files — untouched files are never read)
  private def mkTable(dir: String, cdf: Boolean = false): GraftTable =
    GraftTable.create(spark, dir,
      // score is Option so the table's score column is NULLABLE — the
      // insertExpr-null fast-path case writes null there (NOT NULL brands
      // from bare-Int frames would refuse it, as Delta would)
      Seq((1, "a", Some(10)), (2, "b", Some(20)), (3, "c", Some(30)))
        .toDF("id", "name", "score").repartition(1),
      properties = if (cdf) Map(GraftLog.CdfProperty -> "true") else Map.empty)

  private val Shuffle = "(?<!Broadcast)Exchange ".r

  /** Executed plans of the data writes `body` makes that rescan target rows
    * by position — MERGE's copy write.
    */
  private def copyWritePlans(body: => Unit): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener delivery is async: wait for the copy write's plan
      import scala.jdk.CollectionConverters._
      def writePlans() = plans.asScala.toSeq
        .filter(p => p.contains("InsertIntoHadoopFsRelation") && p.contains("__graft_pos"))
      val deadline = System.currentTimeMillis() + 30000
      while (writePlans().isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(50)
      val found = writePlans()
      assert(found.nonEmpty, "no copy write plan captured")
      found
    } finally spark.listenerManager.unregister(listener)
  }

  describe("GraftMerge") {
    it("updateAll + insertAll upsert") {
      val t = mkTable(tmpTableDir("merge-upsert"))
      val source = Seq((2, "B!", 200), (4, "d", 40)).toDF("id", "name", "score")
      GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      assertSmallDataFrameEquality(t.toDF,
        Seq((1, "a", 10), (2, "B!", 200), (3, "c", 30), (4, "d", 40)).toDF("id", "name", "score"))
      val metrics = t.history().head._2.operationMetrics
      assert(metrics("numTargetRowsUpdated") == "1")
      assert(metrics("numTargetRowsInserted") == "1")
      assert(metrics("numTargetRowsCopied") == "2")
      assert(metrics("numSourceRows") == "2")
    }

    it("withSchemaEvolution adds source-only columns; old rows read as NULL") {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "2")
      try {
        // 2 files: (1,2) and (3) — source touches only id=3's file, so the
        // (1,2) file must survive UNREWRITTEN yet read the new column as null
        val t = GraftTable.create(spark, tmpTableDir("merge-evolve"),
          Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name").orderBy("id").coalesce(1))
        val untouched = t.snapshot.files.map(_.path).toSet
        val source = Seq((3, "C!", 300L), (4, "d", 400L)).toDF("id", "name", "score")
        GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
          .withSchemaEvolution()
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
        val t2 = GraftTable.forPath(spark, t.path)
        assert(t2.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "score"))
        assertSmallDataFrameEquality(t2.toDF,
          Seq((1, "a", Option.empty[Long]), (2, "b", Option.empty[Long]),
            (3, "C!", Some(300L)), (4, "d", Some(400L))).toDF("id", "name", "score"))
        // the untouched file was not rewritten
        assert(t2.snapshot.files.map(_.path).toSet.intersect(untouched).nonEmpty)
      } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }

    it("without the flag, extra source columns are ignored") {
      val t = mkTable(tmpTableDir("merge-noevolve"))
      val source = Seq((2, "B!", 200, "extra")).toDF("id", "name", "score", "note")
      GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "score"))
      assert(t2.toDF.where("id = 2").collect()(0).getString(1) == "B!")
    }

    it("withSchemaEvolution treats a case-differing source column as the SAME column") {
      val t = mkTable(tmpTableDir("merge-evolve-case"))
      // "Score" vs table's "score": default case-insensitive resolution —
      // must NOT append a duplicate column (which would brick the schema)
      val source = Seq((2, "B!", 200)).toDF("id", "name", "Score")
      GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .execute()
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "score"))
      assert(t2.toDF.where("id = 2").collect()(0).getInt(2) == 200)
      // ...and a case-differing TYPE conflict still fails loudly
      val e = intercept[IllegalArgumentException] {
        GraftMerge(t2, "old").merge(Seq((2, 9.9)).toDF("id", "Score"),
            "old.id = new.id", Some("new"))
          .withSchemaEvolution()
          .whenMatchedUpdateExpr(Map("score" -> "new.Score"))
          .execute()
      }
      assert(e.getMessage.contains("type mismatch"), e.getMessage)
    }

    it("withSchemaEvolution rejects a NullType (void) source column") {
      val t = mkTable(tmpTableDir("merge-evolve-void"))
      val vBefore = t.version
      // lit(null) without a cast is NullType — unstorable in parquet, and a
      // no-op merge would otherwise commit it into metadata data-free
      val source = Seq((99, "z", 1)).toDF("id", "name", "score")
        .withColumn("flag", org.apache.spark.sql.functions.lit(null))
      val e = intercept[IllegalArgumentException] {
        GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
          .withSchemaEvolution()
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
      }
      assert(e.getMessage.contains("NullType"), e.getMessage)
      assert(t.version == vBefore)
    }

    it("withSchemaEvolution rejects a same-name type conflict before writing") {
      val t = mkTable(tmpTableDir("merge-evolve-conflict"))
      val vBefore = t.version
      val source = Seq((2, 9.9)).toDF("id", "score") // score: int in table, double here
      val e = intercept[IllegalArgumentException] {
        GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
          .withSchemaEvolution()
          .whenMatchedUpdateExpr(Map("score" -> "new.score"))
          .execute()
      }
      assert(e.getMessage.contains("type mismatch"), e.getMessage)
      assert(t.version == vBefore)
    }

    it("withSchemaEvolution on the insert-only fast path evolves too") {
      val t = mkTable(tmpTableDir("merge-evolve-insonly"))
      val source = Seq((9, "z", 90, true)).toDF("id", "name", "score", "flag")
      GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
        .withSchemaEvolution()
        .whenNotMatchedInsertAll()
        .execute()
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "score", "flag"))
      assert(t2.toDF.where("id = 9").collect()(0).getBoolean(3))
      assert(t2.toDF.where("id = 1").collect()(0).isNullAt(3))
    }

    it("withSchemaEvolution CDC: pre-images NULL, post-images carry the new value") {
      val t = mkTable(tmpTableDir("merge-evolve-cdc"), cdf = true)
      val source = Seq((2, "B!", 200, 7L)).toDF("id", "name", "score", "v2")
      val v = GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .execute()
      val changes = spark.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", v).option("endingVersion", v)
        .load(t.path)
        .select($"id", $"v2", $"_change_type").collect()
        .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1), r.getString(2)))
        .toSet
      assert(changes == Set((2, -1L, "update_preimage"), (2, 7L, "update_postimage")),
        changes.toString)
    }

    it("whenMatched delete removes only matching rows") {
      val t = mkTable(tmpTableDir("merge-del"))
      val dups = Seq((1, "a"), (3, "c")).toDF("id", "name")
      GraftMerge(t, "old").merge(dups, "old.id = new.id AND old.name = new.name", Some("new"))
        .whenMatchedDelete()
        .execute()
      assertSmallDataFrameEquality(t.toDF, Seq((2, "b", 20)).toDF("id", "name", "score"))
      assert(t.history().head._2.operationMetrics("numTargetRowsDeleted") == "2")
    }

    it("updateExpr with clause condition; null mergeKey never matches") {
      val t = mkTable(tmpTableDir("merge-null"))
      val staged = Seq(
        (Option.empty[Int], 2, "bb", 21),  // NULL mergeKey -> insert path
        (Some(2), 2, "bb", 21)             // matches id=2 -> update
      ).toDF("mergeKey", "id", "name", "score")
      GraftMerge(t, "base").merge(staged, "base.id = mergeKey", Some("staged"))
        .whenMatchedUpdateExpr(Map("score" -> "staged.score"), Some("base.score < 100"))
        .whenNotMatchedInsertExpr(Map("id" -> "staged.id", "name" -> "staged.name", "score" -> "staged.score"))
        .execute()
      // id=2 updated to 21 AND a new (2,bb,21) row inserted via null-mergeKey
      assertSmallDataFrameEquality(t.toDF,
        Seq((1, "a", 10), (2, "b", 21), (2, "bb", 21), (3, "c", 30)).toDF("id", "name", "score"))
    }

    it("insert-only merge behaves as left_anti append") {
      val t = mkTable(tmpTableDir("merge-anti"))
      val appendData = Seq((2, "x", 99), (5, "e", 50)).toDF("id", "name", "score")
      GraftMerge(t, "old").merge(appendData, "old.id = new.id", Some("new"))
        .whenNotMatchedInsertAll()
        .execute()
      assertSmallDataFrameEquality(t.toDF,
        Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "e", 50)).toDF("id", "name", "score"))
    }

    it("emits CDC pre/post images when CDF enabled") {
      val t = mkTable(tmpTableDir("merge-cdc"), cdf = true)
      GraftMerge(t, "old")
        .merge(Seq((2, "B", 99), (9, "z", 1)).toDF("id", "name", "score"), "old.id = new.id", Some("new"))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      val cdcFiles = t.log.actionsAt(1).collect { case c: AddCDCFile => c.path }
      assert(cdcFiles.nonEmpty)
      val cdc = spark.read.parquet(cdcFiles.map(p => s"${t.path}/$p"): _*)
      val byType = cdc.groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byType == Map("update_preimage" -> 1L, "update_postimage" -> 1L, "insert" -> 1L))
      val post = cdc.filter("_change_type = 'update_postimage'").select("score").collect()(0).getInt(0)
      assert(post == 99)
    }

    it("insert-only fast path: no files rewritten, metrics and CDC correct") {
      val t = mkTable(tmpTableDir("merge-fast"), cdf = true)
      GraftMerge(t, "old")
        .merge(Seq((2, "x", 99), (5, "e", 50), (6, "f", 60)).toDF("id", "name", "score"),
          "old.id = new.id", Some("new"))
        .whenNotMatchedInsertAll()
        .execute()
      assertSmallDataFrameEquality(t.toDF,
        Seq((1, "a", 10), (2, "b", 20), (3, "c", 30), (5, "e", 50), (6, "f", 60))
          .toDF("id", "name", "score"))
      val actions = t.log.actionsAt(1)
      assert(!actions.exists(_.isInstanceOf[RemoveFile]), "fast path must not rewrite files")
      val m = t.history().head._2.operationMetrics
      assert(m("numTargetRowsInserted") == "2" && m("numTargetRowsCopied") == "0"
        && m("numTargetFilesRemoved") == "0" && m("numSourceRows") == "3")
      val cdcFiles = actions.collect { case c: AddCDCFile => c.path }
      assert(cdcFiles.nonEmpty)
      val cdc = spark.read.parquet(cdcFiles.map(p => s"${t.path}/$p"): _*)
      assert(cdc.filter("_change_type = 'insert'").count() == 2)
    }

    it("insert-only fast path honors insertExpr with null literals") {
      val t = mkTable(tmpTableDir("merge-fast2"))
      GraftMerge(t, "old")
        .merge(Seq((7, "g")).toDF("id", "name"), "old.id = new.id", Some("new"))
        .whenNotMatchedInsertExpr(Map("id" -> "new.id", "name" -> "new.name", "score" -> "null"))
        .execute()
      val row = t.toDF.filter("id = 7").collect()(0)
      assert(row.getString(1) == "g" && row.isNullAt(2))
    }

    it("alias-qualified UPDATE SET / INSERT keys resolve to target columns") {
      // regression: `t.name = s.name` used to silently keep the OLD value
      // while reporting the row updated (the key never matched the bare
      // column name in the projection)
      val t = mkTable(tmpTableDir("merge-alias"))
      GraftMerge(t, "old")
        .merge(Seq((2, "ALIASED")).toDF("id", "name"), "old.id = new.id", Some("new"))
        .whenMatchedUpdateExpr(Map("old.name" -> "new.name"))
        .whenNotMatchedInsertExpr(Map("old.id" -> "new.id", "old.name" -> "new.name"))
        .execute()
      assert(t.toDF.filter("id = 2").collect()(0).getString(1) == "ALIASED")
      // an assignment key that resolves to NO target column is a loud
      // error, never a silent no-op claiming rows updated
      val ex = intercept[IllegalArgumentException] {
        GraftMerge(t, "old")
          .merge(Seq((2, "x")).toDF("id", "name"), "old.id = new.id", Some("new"))
          .whenMatchedUpdateExpr(Map("no_such_col" -> "new.name"))
          .execute()
      }
      assert(ex.getMessage.contains("no_such_col"))
    }

    it("rejects a source that matches one target row multiple times") {
      val t = mkTable(tmpTableDir("merge-multi"))
      val dupSource = Seq((2, "X", 1), (2, "Y", 2)).toDF("id", "name", "score")
      val ex = intercept[IllegalStateException] {
        GraftMerge(t, "old").merge(dupSource, "old.id = new.id", Some("new"))
          .whenMatchedUpdateAll().execute()
      }
      assert(ex.getMessage.contains("multiple source rows"))
      // insert-only merges are exempt (no nondeterminism)
      val t2 = mkTable(tmpTableDir("merge-multi2"))
      GraftMerge(t2, "old").merge(dupSource, "old.id = new.id", Some("new"))
        .whenNotMatchedInsertAll().execute()
      assert(t2.toDF.count() == 3)
    }

    it("frees its checkpoint blocks without the lineage-truncated warning") {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
      import org.apache.logging.log4j.core.appender.AbstractAppender
      import org.apache.logging.log4j.core.config.Property
      val t = mkTable(tmpTableDir("merge-free-blocks"))
      val source = Seq((2, "B!", 200), (4, "d", 40)).toDF("id", "name", "score")
      // events the merge logs on this thread, where its blocks are freed
      val thread = Thread.currentThread().getName
      val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val appender = new AbstractAppender("merge-free-blocks", null, null, true,
          Property.EMPTY_ARRAY) {
        override def append(e: LogEvent): Unit =
          if (e.getThreadName == thread) events.add(e.getMessage.getFormattedMessage)
      }
      appender.start()
      val logger = LogManager.getLogger("org.apache.spark.rdd").asInstanceOf[CoreLogger]
      logger.addAppender(appender)
      val before = spark.sparkContext.getPersistentRDDs.keySet
      try {
        GraftMerge(t, "old").merge(source, "old.id = new.id", Some("new"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
      } finally { logger.removeAppender(appender); appender.stop() }
      import scala.jdk.CollectionConverters._
      val warned = events.asScala.filter(_.contains("locally checkpointed"))
      assert(warned.isEmpty, warned.mkString("\n"))
      val left = spark.sparkContext.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"RDDs the merge registered are still persisted: $left")
      assertSmallDataFrameEquality(t.toDF,
        Seq((1, "a", 10), (2, "B!", 200), (3, "c", 30), (4, "d", 40)).toDF("id", "name", "score"))
    }

    it("copy write plans no shuffle: copied rows never cross an exchange") {
      // copied rows come from a position-masked rescan of each touched file
      // (broadcast anti-join on file + row position): the data-write plan
      // carrying them may broadcast the mask but must not shuffle anything
      val rewrites = copyWritePlans {
        val t = mkTable(tmpTableDir("merge-noshuffle"))
        GraftMerge(t, "old")
          .merge(Seq((2, "B!", 200), (4, "d", 40)).toDF("id", "name", "score"),
            "old.id = new.id", Some("new"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
      }
      rewrites.foreach { p =>
        assert(Shuffle.findFirstIn(p).isEmpty, s"copy write plan shuffles:\n$p")
      }
    }

    it("a mask past the broadcast threshold falls back to a shuffled anti-join, same result") {
      // with broadcasting off, neither the position mask nor the matched
      // source ids may be hinted to the driver: the merge plans shuffled
      // anti-joins and must still delete, update, copy and insert exactly
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
      try {
        val df = (1 to 12).map(i => (i, s"n$i")).toDF("id", "name").orderBy("id").coalesce(1)
        val t = GraftTable.create(spark, tmpTableDir("merge-nobroadcast"), df)
        val rewrites = copyWritePlans {
          GraftMerge(t, "tgt")
            .merge(Seq((2, "DEL"), (6, "Y"), (7, "Z"), (20, "new")).toDF("id", "name"),
              "tgt.id = s.id", Some("s"))
            .whenMatchedDelete(Some("s.name = 'DEL'"))
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        }
        assert(rewrites.exists(p => Shuffle.findFirstIn(p).nonEmpty),
          s"expected a shuffled anti-join in the copy write:\n${rewrites.mkString("\n")}")
        val expected = (1 to 12).filter(_ != 2).map {
          case 6 => (6, "Y"); case 7 => (7, "Z"); case i => (i, s"n$i")
        } :+ ((20, "new"))
        assert(t.toDF.as[(Int, String)].collect().sorted.toSeq == expected)
        val metrics = t.history().head._2.operationMetrics
        assert(metrics("numTargetRowsDeleted") == "1")
        assert(metrics("numTargetRowsUpdated") == "2")
        assert(metrics("numTargetRowsInserted") == "1")
        assert(metrics("numTargetRowsCopied") == "5")
        assert(metrics("numTargetFilesRemoved") == "2")
      } finally {
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      }
    }

    it("rewrites each touched file within its own key range; a DELETE of one range removes one file") {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
      try {
        val df = (1 to 24).map(i => (i, s"n$i")).toDF("id", "name").orderBy("id").coalesce(1)
        val t = GraftTable.create(spark, tmpTableDir("merge-layout"), df)
        assert(t.snapshot.numFiles == 6)
        def range(f: AddFile): (Int, Int) = {
          val st = GraftLog.parseStats(f.stats).get
          (st.minValues("id").toInt, st.maxValues("id").toInt)
        }
        val before = t.snapshot.files.map(f => f.path -> range(f)).toMap
        // an upsert touching the files of ids 1-4 (a delete), 9-12 and
        // 17-20 (updates), plus one insert
        GraftMerge(t, "tgt")
          .merge(Seq((2, "DEL"), (10, "Y"), (18, "Z"), (30, "new")).toDF("id", "name"),
            "tgt.id = s.id", Some("s"))
          .whenMatchedDelete(Some("s.name = 'DEL'"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
        val removed = t.log.actionsAt(1).collect { case r: RemoveFile => r.path }
        assert(removed.map(before).sorted == Seq((1, 4), (9, 12), (17, 20)))
        val added = t.log.actionsAt(1).collect { case a: AddFile => a }
        val (inPlace, changed) = added.partition { a =>
          val (lo, hi) = range(a)
          removed.exists { r => val (rlo, rhi) = before(r); rlo <= lo && hi <= rhi }
        }
        assert(inPlace.map(range).sorted == Seq((1, 4), (9, 12), (17, 20)),
          s"rewritten files left their source ranges: ${added.map(range)}")
        assert(changed.size <= 1, s"updated/inserted rows spread over ${changed.map(range)}")
        val metrics = t.history().head._2.operationMetrics
        assert(metrics("numTargetRowsCopied") == "9")
        assert(metrics("numTargetFilesRemoved") == "3")
        assert(t.toDF.count() == 24)
        assert(t.toDF.filter("name IN ('Y', 'Z', 'new')").count() == 3)

        graft.operators.TableOps.delete(t, Some("id >= 1 AND id <= 4"))
        val removed2 = t.log.actionsAt(2).collect { case r: RemoveFile => r.path }
        assert(removed2.size == 1, s"expected one removed file, got $removed2")
        assert(t.toDF.count() == 21)
      } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }

    it("dynamic pruning: a narrow source touches only overlapping files") {
      spark.conf.set("spark.sql.files.maxRecordsPerFile", "4")
      try {
        val df = (1 to 24).map(i => (i, s"n$i")).toDF("id", "name").orderBy("id").coalesce(1)
        val t = GraftTable.create(spark, tmpTableDir("merge-dyn"), df)
        assert(t.snapshot.numFiles == 6)
        // source keys 10..11 live in exactly one target file (ids 9-12)
        GraftMerge(t, "tgt")
          .merge(Seq((10, "X"), (11, "Y")).toDF("id", "name"), "tgt.id = s.id", Some("s"))
          .whenMatchedUpdateAll()
          .execute()
        val removed = t.log.actionsAt(1).collect { case r: RemoveFile => r.path }
        assert(removed.size == 1, s"expected 1 rewritten file, got $removed")
        assert(t.toDF.filter("name IN ('X','Y')").count() == 2)
        assert(t.toDF.count() == 24)
      } finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    }

    it("partition conjunct in condition limits the merge scope") {
      val dir = tmpTableDir("merge-prune")
      val df = Seq((1, "US", 1.0), (2, "US", 2.0), (3, "DE", 3.0), (4, "FR", 4.0))
        .toDF("id", "country", "amount")
      val t = GraftTable.create(spark, dir, df, partitionColumns = Seq("country"))
      GraftMerge(t, "tbl")
        .merge(Seq((1, 100.0), (3, 300.0)).toDF("id", "amount"),
          "tbl.id = s.id AND tbl.country = 'US'", Some("s"))
        .whenMatchedUpdateAll()
        .execute()
      // id=1 (US) updated; id=3 (DE) untouched because the partition conjunct excludes it
      val out = t.toDF.select("id", "amount").as[(Int, Double)].collect().toMap
      assert(out(1) == 100.0 && out(3) == 3.0 && out(2) == 2.0)
      // only the US partition file was rewritten
      val removed = t.log.actionsAt(1).collect { case r: RemoveFile => r.path }
      assert(removed.nonEmpty && removed.forall(_.contains("country=US")))
    }
  }
}
