package graft

import org.scalatest.funspec.AnyFunSpec

import graft.tables._

/** Cross-thread gate for the semantic-OCC specs: executor tasks signal entry
  * and block until the test thread releases them (local mode — one JVM).
  */
object OccGate {
  @volatile private var entered = false
  @volatile private var latch = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = { entered = false; latch = new java.util.concurrent.CountDownLatch(1) }
  def enter(): Unit = { entered = true; latch.await() }
  def awaitEntered(): Unit = { while (!entered) Thread.sleep(10) }
  def release(): Unit = latch.countDown()
}

class GraftTableSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  describe("GraftTable create/read") {
    it("round-trips an unpartitioned table") {
      val dir = tmpTableDir("graft-basic")
      val df = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name")
      val t = GraftTable.create(spark, dir, df)
      assert(t.version == 0L)
      assertSmallDataFrameEquality(t.toDF, df)
      val snap = t.snapshot
      assert(snap.files.nonEmpty)
      val stats = GraftLog.parseStats(snap.files.head.stats)
      assert(snap.files.flatMap(f => GraftLog.parseStats(f.stats)).map(_.numRecords).sum == 3L)
    }

    it("round-trips a partitioned table with partition values in log") {
      val dir = tmpTableDir("graft-part")
      val df = Seq((1, "US", 10.0), (2, "US", 20.0), (3, "DE", 30.0)).toDF("id", "country", "amount")
      val t = GraftTable.create(spark, dir, df, partitionColumns = Seq("country"))
      assertSmallDataFrameEquality(t.toDF, df)
      val pvs = t.snapshot.files.map(_.partitionValues("country")).toSet
      assert(pvs == Set("US", "DE"))
    }

    it("repartitionTable evolves the partition layout transactionally") {
      import graft.operators.TableOps
      val dir = tmpTableDir("graft-evolve-part")
      val df = Seq((1, "US", "x"), (2, "US", "y"), (3, "DE", "x"), (4, "FR", "y"))
        .toDF("id", "country", "seg")
      val t = GraftTable.create(spark, dir, df, partitionColumns = Seq("country"))
      t.append(Seq((5, "DE", "z")).toDF("id", "country", "seg")) // v1

      val v = TableOps.repartitionTable(t, Seq("seg")) // v2
      assert(v == 2L)
      val snap = t.snapshot
      assert(snap.metadata.partitionColumns == Seq("seg"))
      assert(snap.files.map(_.partitionValues("seg")).toSet == Set("x", "y", "z"))
      assert(t.toDF.count() == 5)
      // history intact: pre-evolution version reads the OLD layout
      assert(t.toDFAt(1).count() == 5)
      assert(t.log.snapshot(1).metadata.partitionColumns == Seq("country"))
      // later appends follow the new layout automatically
      t.append(Seq((6, "US", "w")).toDF("id", "country", "seg"))
      assert(t.snapshot.files.exists(_.partitionValues.get("seg").contains("w")))
      // partition pruning works on the new column
      val cls = graft.tables.FileSkipping.classify(spark, t.toDF, "seg = 'x'")
      val matched = graft.tables.FileSkipping.filesMatching(t.snapshot, cls.all, None)
      assert(matched.nonEmpty && matched.forall(_.partitionValues("seg") == "x"))

      // evolve to UNPARTITIONED (explicit empty layout)
      TableOps.repartitionTable(t, Nil)
      assert(t.snapshot.metadata.partitionColumns.isEmpty)
      assert(t.toDF.count() == 6)

      // no-op layouts and non-columns are rejected loudly
      intercept[IllegalArgumentException](TableOps.repartitionTable(t, Nil))
      intercept[IllegalArgumentException](TableOps.repartitionTable(t, Seq("nope")))
    }

    it("column defaults fill absent append columns; provided values win") {
      val dir = tmpTableDir("graft-defaults")
      val t = GraftTable.create(spark, dir,
        Seq((1, "a", "live")).toDF("id", "name", "status"),
        properties = Map("graft.default.status" -> "'pending'"))
      t.append(Seq((2, "b")).toDF("id", "name"))          // absent -> default
      t.append(Seq((3, "c", "done")).toDF("id", "name", "status")) // provided wins
      val out = t.toDF.collect().map(r => r.getInt(0) -> r.getString(2)).toMap
      assert(out == Map(1 -> "live", 2 -> "pending", 3 -> "done"))
      // a column the TABLE doesn't have yet is not invented by the default
      val t2 = GraftTable.create(spark, tmpTableDir("graft-defaults2"),
        Seq((1, "a")).toDF("id", "name"),
        properties = Map("graft.default.extra" -> "'x'"))
      t2.append(Seq((2, "b")).toDF("id", "name"))
      assert(!t2.toDF.columns.contains("extra"))
    }

    it("type widening: appends widen int->long / float->double losslessly") {
      import org.apache.spark.sql.types.{DoubleType, LongType}
      val dir = tmpTableDir("graft-widen")
      val t = GraftTable.create(spark, dir, Seq((1, 1.5f)).toDF("id", "x"),
        properties = Map(graft.tables.TableWriter.TypeWideningProperty -> "true"))
      // wider incoming: the TABLE schema widens; the old int/float file
      // upcasts at scan
      t.append(Seq((2147483648L, 2.5d)).toDF("id", "x"))
      assert(t.toDF.schema("id").dataType == LongType)
      assert(t.toDF.schema("x").dataType == DoubleType)
      assert(t.toDF.collect().map(r => (r.getLong(0), r.getDouble(1))).toSet ==
        Set((1L, 1.5), (2147483648L, 2.5)))
      // narrower incoming after the widen: accepted, new file upcasts instead
      t.append(Seq((3, 3.5f)).toDF("id", "x"))
      assert(t.toDF.count() == 3)
      assert(t.toDF.filter($"id" === 3).first().getDouble(1) == 3.5)
      // non-widening change stays loud even with the property on
      val e = intercept[IllegalArgumentException](
        t.append(Seq(("oops", 1.0)).toDF("id", "x")))
      assert(e.getMessage.contains("type mismatch"))
      // without the property: the old loud behavior, with a hint
      val t2 = GraftTable.create(spark, tmpTableDir("graft-nowiden"),
        Seq((1, "a")).toDF("id", "name"))
      val e2 = intercept[IllegalArgumentException](
        t2.append(Seq((2L, "b")).toDF("id", "name")))
      assert(e2.getMessage.contains("enableTypeWidening"))
    }

    it("symlink manifest lists live files, tracks commits, refuses DV tables") {
      import graft.tables.SymlinkManifest
      val dir = tmpTableDir("graft-manifest")
      // one input partition → one file per country, so the DV delete below
      // is a PARTIAL-file delete (a full-file delete is a pure remove)
      val df = Seq((1, "US", "a"), (2, "DE", "b"), (3, "US", "c"))
        .toDF("id", "country", "name").repartition(1)
      val t = GraftTable.create(spark, dir, df, partitionColumns = Seq("country"))
      val n = graft.operators.TableOps.generateManifest(t)
      assert(n == t.snapshot.files.size)
      val uris = SymlinkManifest.entries(dir)
      assert(uris.size == n && uris.forall(_.startsWith("file:")))
      // reading the manifest'd files directly reproduces the table's rows
      val viaManifest = spark.read.parquet(
        uris.map(u => java.nio.file.Paths.get(new java.net.URI(u)).toString): _*)
      assert(viaManifest.count() == 3)
      // partitioned layout: one manifest per partition dir
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(
        dir, SymlinkManifest.DirName, "country=US", "manifest")))

      // auto-refresh on commit when the property is set
      t.setProperties(Map(SymlinkManifest.Property -> "true"))
      t.append(Seq((4, "FR", "d")).toDF("id", "country", "name"))
      val after = SymlinkManifest.entries(dir)
      assert(after.size == t.snapshot.files.size && after.size > n)

      // deletion vectors make the manifest a lie — refuse loudly
      t.setProperties(Map(graft.tables.DeletionVectors.Property -> "true"))
      graft.operators.TableOps.delete(t, Some("id = 1"))
      val e = intercept[IllegalArgumentException](
        graft.operators.TableOps.generateManifest(t))
      assert(e.getMessage.contains("deletion"))
    }

    it("metadata-only count(*) answers from log stats without scanning") {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      val dir = tmpTableDir("graft-metacount")
      val t = GraftTable.create(spark, dir,
        (1 to 100).map(i => (i, s"n$i")).toDF("id", "name").repartition(4))
      val df = spark.read.format("graft").load(dir)
      val cnt = df.groupBy().count()
      assert(cnt.queryExecution.optimizedPlan
        .collectFirst { case l: LocalRelation => l }.nonEmpty,
        s"count(*) should optimize to a LocalRelation:\n${cnt.queryExecution.optimizedPlan}")
      assert(cnt.first().getLong(0) == 100)
      assert(df.count() == 100 && t.toDF.count() == 100) // both relation forms
      // a filter disqualifies the rewrite; the result stays correct
      val f = df.filter($"id" > 50).groupBy().count()
      assert(f.queryExecution.optimizedPlan
        .collectFirst { case l: LocalRelation => l }.isEmpty)
      assert(f.first().getLong(0) == 50)
      // live deletion vectors disqualify it too (count must subtract
      // masked rows) — and the scanned answer reflects the delete
      t.setProperties(Map(graft.tables.DeletionVectors.Property -> "true"))
      graft.operators.TableOps.delete(t, Some("id <= 10"))
      val dv = spark.read.format("graft").load(dir).groupBy().count()
      // the aggregate must SURVIVE (scan-based count) — a stats answer
      // would have replaced it and overcounted the masked rows
      assert(dv.queryExecution.optimizedPlan
        .collectFirst { case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate => a }
        .nonEmpty, "DV tables must not answer count from raw file stats")
      assert(dv.first().getLong(0) == 90)
    }

    it("metadata-only min/max answers from stats; floats and filters don't") {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation}
      import org.apache.spark.sql.functions.{count, lit, max, min}
      def isMetadataAnswered(df: org.apache.spark.sql.DataFrame): Boolean =
        df.queryExecution.optimizedPlan
          .collectFirst { case l: LocalRelation => l }.nonEmpty
      val dir = tmpTableDir("graft-metaminmax")
      val rows = (1 to 100).map(i =>
        (i, s"n${"%03d".format(i)}", i / 2.0, if (i <= 3) s"P${i % 2}" else "P0",
          if (i % 3 == 0) null else s"v$i"))
      val t = GraftTable.create(spark, dir,
        rows.toDF("id", "name", "score", "part", "maybe").repartition(4),
        partitionColumns = Seq("part"))
      val df = spark.read.format("graft").load(dir)

      // mixed count/min/max over data columns (int + string), one rewrite
      val m = df.agg(count(lit(1)).as("n"), min($"id").as("mn"), max($"id").as("mx"),
        min($"name").as("ns"), max($"name").as("xs"))
      assert(isMetadataAnswered(m), m.queryExecution.optimizedPlan.toString)
      assert(m.first().toSeq == Seq(100L, 1, 100, "n001", "n100"))

      // partition column min/max comes from partition values
      val p = df.agg(min($"part").as("mn"), max($"part").as("mx"))
      assert(isMetadataAnswered(p))
      assert(p.first().toSeq == Seq("P0", "P1"))

      // nullable column: per-file nulls don't poison the answer
      val nn = df.agg(max($"maybe").as("mx"))
      assert(isMetadataAnswered(nn))
      assert(nn.first().getString(0) ==
        rows.flatMap(r => Option(r._5)).max)

      // double column: stats ordering unsafe (NaN) — must scan, stay correct
      val d = df.agg(min($"score").as("mn"))
      assert(!isMetadataAnswered(d))
      assert(d.first().getDouble(0) == 0.5)

      // NESTED struct leaves answer from stats too (their per-file min/max
      // exist; parquet leaf stats range over non-null values = SQL min/max)
      val ndir = tmpTableDir("graft-metaminmax-nested")
      GraftTable.create(spark, ndir, spark.range(1, 51).selectExpr(
        "id", "named_struct('a', CAST(id * 2 AS INT), 'b', concat('s', id)) AS s")
        .repartition(4))
      val ndf = spark.read.format("graft").load(ndir)
      val nm = ndf.agg(min($"s.a").as("mn"), max($"s.a").as("mx"), max($"s.b").as("xs"))
      assert(isMetadataAnswered(nm), nm.queryExecution.optimizedPlan.toString)
      assert(nm.first().toSeq == Seq(2, 100, "s9"))

      // a filter disqualifies; scan answer stays correct
      val f = df.filter($"id" > 40).agg(min($"id"))
      assert(!isMetadataAnswered(f) && f.first().getInt(0) == 41)

      // min over an expression disqualifies (only plain columns resolve)
      val e = df.agg(min($"id" + 1))
      assert(!isMetadataAnswered(e) && e.first().getInt(0) == 2)

      // live deletion vectors: the masked row could be the extreme — scan
      t.setProperties(Map(graft.tables.DeletionVectors.Property -> "true"))
      graft.operators.TableOps.delete(t, Some("id >= 99"))
      val dv = spark.read.format("graft").load(dir).agg(max($"id"))
      assert(dv.queryExecution.optimizedPlan
        .collectFirst { case a: Aggregate => a }.nonEmpty)
      assert(dv.first().getInt(0) == 98)
    }

    it("metadata-only min/max answers NULL for an all-null column") {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      import org.apache.spark.sql.functions.{count, lit, min}
      val dir = tmpTableDir("graft-metanull")
      GraftTable.create(spark, dir,
        Seq((1, null: String), (2, null: String)).toDF("id", "s").repartition(2))
      val df = spark.read.format("graft").load(dir)
      val m = df.agg(min($"s").as("mn"), count(lit(1)).as("n"))
      assert(m.queryExecution.optimizedPlan
        .collectFirst { case l: LocalRelation => l }.nonEmpty,
        m.queryExecution.optimizedPlan.toString)
      val r = m.first()
      assert(r.isNullAt(0) && r.getLong(1) == 2L)
    }

    it("generated columns compute on write and enforce provided values") {
      val dir = tmpTableDir("graft-gencol")
      val df = Seq((1, "a"), (2, "b"), (7, "c")).toDF("id", "name")
      val t = GraftTable.create(spark, dir, df,
        partitionColumns = Seq("bucket"),
        properties = Map("graft.generated.bucket" -> "id % 3"))
      // computed at create: the writer derived the partition key itself
      assert(t.toDF.columns.contains("bucket"))
      assert(t.toDF.select("id", "bucket").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap == Map(1 -> 1, 2 -> 2, 7 -> 1))
      assert(t.snapshot.files.forall(_.partitionValues.contains("bucket")))
      // append WITHOUT the column: computed again
      t.append(Seq((9, "d")).toDF("id", "name"))
      assert(t.toDF.filter($"id" === 9).select("bucket").first().getInt(0) == 0)
      // append WITH a correct value: accepted
      t.append(Seq((10, "e", 1)).toDF("id", "name", "bucket"))
      assert(t.toDF.count() == 5)
      // append with a DESYNCHRONIZED value: rejected before commit
      val v = t.version
      val e = intercept[Exception] {
        t.append(Seq((11, "f", 0)).toDF("id", "name", "bucket")) // 11 % 3 = 2, not 0
      }
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(chain.exists(_.contains("generated column")), chain.mkString(" | "))
      assert(t.version == v, "failed append must not commit")
    }

    it("appends and tracks versions; time travel reads old snapshot") {
      val dir = tmpTableDir("graft-append")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      t.append(Seq((2, "b")).toDF("id", "name"))
      assert(t.version == 1L)
      assert(t.toDF.count() == 2)
      assert(t.toDFAt(0).count() == 1)
    }

    it("merges schema on append (old files read new column as null)") {
      val dir = tmpTableDir("graft-evolve")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      t.append(Seq((2, "b", 99)).toDF("id", "name", "score"))
      val out = t.toDF
      assert(out.columns.toSeq == Seq("id", "name", "score"))
      val nullScores = out.filter("score IS NULL").count()
      assert(nullScores == 1)
      assert(out.count() == 2)
    }

    it("harvests min/max stats usable for skipping") {
      val dir = tmpTableDir("graft-stats")
      val t = GraftTable.create(spark, dir,
        Seq((1, "a"), (100, "z")).toDF("id", "name").repartition(1))
      val stats = GraftLog.parseStats(t.snapshot.files.head.stats).get
      assert(stats.minValues("id") == "1")
      assert(stats.maxValues("id") == "100")
      assert(stats.minValues("name") == "a")
      assert(stats.nullCount("id") == 0)
    }

    it("overwrite removes previous files from the snapshot") {
      val dir = tmpTableDir("graft-ow")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      val before = t.snapshot.files.map(_.path).toSet
      t.overwrite(Seq((9, "x")).toDF("id", "name"))
      val after = t.snapshot.files.map(_.path).toSet
      assert(after.intersect(before).isEmpty)
      assert(t.toDF.collect().map(_.getInt(0)).toSeq == Seq(9))
    }

    it("records history with operation metrics") {
      val dir = tmpTableDir("graft-hist")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      t.append(Seq((2, "b")).toDF("id", "name"))
      val h = t.history()
      assert(h.map(_._1) == Seq(1L, 0L))
      assert(h.head._2.operationMetrics("numOutputRows") == "1")
    }

    it("createEmpty makes a zero-file table; appends work; forName resolves") {
      import org.apache.spark.sql.types._
      val dir = tmpTableDir("graft-empty")
      val schema = StructType(Seq(StructField("id", IntegerType), StructField("name", StringType)))
      val t = GraftTable.createEmpty(spark, dir, schema)
      assert(t.version == 0L && t.snapshot.numFiles == 0)
      assert(t.toDF.count() == 0 && t.toDF.schema.fieldNames.toSeq == Seq("id", "name"))
      t.append(Seq((1, "a")).toDF("id", "name"))
      assert(t.toDF.count() == 1)
      GraftTable.registerTable(spark, "empties", dir)
      assert(GraftTable.forName(spark, "empties").toDF.count() == 1)
      assertThrows[IllegalArgumentException] { GraftTable.forName(spark, "nope") }
    }

    it("CHECK constraints enforce row-by-row across every write path") {
      // Option ids → nullable column: the "NULL passes CHECK" case below
      // needs a column nulls may legally enter (NOT NULL would refuse first)
      val t = GraftTable.create(spark, tmpTableDir("graft-check"),
        Seq((Some(1), "a"), (Some(2), "b")).toDF("id", "name"))
      t.addCheckConstraint("pos_id", "id >= 0")
      assert(t.checkConstraints == Map("pos_id" -> "id >= 0"))

      t.append(Seq((Some(3), "c")).toDF("id", "name")) // satisfying rows land
      val vBefore = t.version
      val e1 = intercept[Exception] { t.append(Seq((Some(-1), "bad")).toDF("id", "name")) }
      assert(Causes.messages(e1).exists(_.contains("CHECK constraint pos_id")), Causes.messages(e1).mkString("; "))
      // the failed write left NO trace: same version, same rows
      assert(t.version == vBefore && t.toDF.count() == 3)

      // NULL passes (SQL CHECK semantics)
      t.append(Seq((Option.empty[Int], "n")).toDF("id", "name"))
      assert(t.toDF.count() == 4)

      // UPDATE rewriting a row into violation fails
      val e2 = intercept[Exception] {
        graft.operators.TableOps.update(t, Some("id = 1"), Map("id" -> "-7"))
      }
      assert(Causes.messages(e2).exists(_.contains("CHECK constraint pos_id")), Causes.messages(e2).mkString("; "))

      // MERGE inserting a violating row fails
      val e3 = intercept[Exception] {
        graft.operators.GraftMerge(t, "old")
          .merge(Seq((-9, "m")).toDF("id", "name"), "old.id = new.id", Some("new"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      }
      assert(Causes.messages(e3).exists(_.contains("CHECK constraint pos_id")), Causes.messages(e3).mkString("; "))

      // a constraint the EXISTING rows violate is rejected at ADD time
      val e4 = intercept[IllegalArgumentException] { t.addCheckConstraint("big", "id > 100") }
      assert(e4.getMessage.contains("existing rows"), e4.getMessage)

      // re-adding an existing name must not silently replace (weaken) it
      val e4b = intercept[IllegalArgumentException] {
        t.addCheckConstraint("pos_id", "id >= -100")
      }
      assert(e4b.getMessage.contains("already exists"), e4b.getMessage)

      // an overwrite whose schema drops the constrained column is rejected —
      // it would reduce the constraint to a vacuous null-check forever
      val e4c = intercept[IllegalArgumentException] {
        t.overwrite(Seq(("no-id", 1.0)).toDF("name", "other"))
      }
      assert(e4c.getMessage.contains("drop the constraint first"), e4c.getMessage)

      // schema-merging append WITHOUT the constrained column: rows are null
      // there, so they pass — not an analysis failure
      t.append(Seq(("x-only", 7L)).toDF("name", "extra"))
      assert(t.toDF.count() == 5)

      // DROP lifts enforcement; dropping a nonexistent name is loud
      t.dropCheckConstraint("pos_id")
      assert(t.checkConstraints.isEmpty)
      val e5 = intercept[IllegalArgumentException] { t.dropCheckConstraint("pos_id") }
      assert(e5.getMessage.contains("no CHECK constraint"), e5.getMessage)
      t.append(Seq((-1, "now-ok")).toDF("id", "name"))
      assert(t.toDF.count() == 6)
    }

    it("an append racing a concurrent ADD CONSTRAINT aborts instead of landing unvalidated rows") {
      // the staged files were written through the OLD (empty) constraint
      // filters; blind-retrying past the winner would land rows the
      // just-added constraint never saw — the loser must abort loudly
      import org.apache.spark.sql.functions.udf
      val dir = tmpTableDir("graft-check-race")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      OccGate.reset()
      val gate = udf { (id: Int) => OccGate.enter(); id }
      var bError: Option[Throwable] = None
      val b = new Thread(() => {
        try t.append(Seq((-5, "bad")).toDF("id", "name")
          .withColumn("id", gate($"id")))
        catch { case e: Throwable => bError = Some(e) }
      })
      b.start()
      OccGate.awaitEntered()
      t.addCheckConstraint("pos_id", "id >= 0") // wins the version race
      OccGate.release()
      b.join(60000)
      assert(bError.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
        s"append must abort after a concurrent ADD CONSTRAINT, got: $bError")
      // the abort names the rule that fired: the winner's new constraint
      assert(bError.get.getMessage.contains("CHECK constraints") &&
        bError.get.getMessage.contains("pos_id"), bError.get.getMessage)
      // the violating row never landed; the constraint stands
      assert(t.toDF.count() == 1)
      assert(t.checkConstraints.contains("pos_id"))
    }

    it("shallow clone VERSION AS OF pins a historical state; the source keeps evolving") {
      val srcDir = tmpTableDir("graft-clonev-src")
      val src = GraftTable.create(spark, srcDir,
        Seq((1, "a"), (2, "b")).toDF("id", "name"))          // v0
      src.append(Seq((3, "c")).toDF("id", "name"))           // v1
      GraftTable.forPath(spark, srcDir)
        .append(Seq((4, "d")).toDF("id", "name"))            // v2
      val clone = GraftTable.shallowClone(spark, srcDir,
        tmpTableDir("graft-clonev-dst"), asOfVersion = Some(1L))
      assert(clone.toDF.collect().map(_.getInt(0)).toSet == Set(1, 2, 3))
      // recorded provenance points at the pinned version
      assert(clone.history().last._2.operationParameters("sourceVersion") == "1")
      // the live source still has all four rows
      assert(GraftTable.forPath(spark, srcDir).toDF.count() == 4)
    }

    it("shallow clone: zero-copy snapshot that diverges independently") {
      val srcDir = tmpTableDir("graft-clone-src")
      val src = GraftTable.create(spark, srcDir,
        Seq((1, "a", "US"), (2, "b", "DE"), (3, "c", "US")).toDF("id", "name", "country"),
        partitionColumns = Seq("country"))
      val cloneDir = tmpTableDir("graft-clone-dst")
      val clone = GraftTable.shallowClone(spark, srcDir, cloneDir)

      // identical rows, schema and partitioning — with ZERO data files copied
      assert(clone.toDF.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
        Set((1, "a"), (2, "b"), (3, "c")))
      assert(clone.snapshot.metadata.partitionColumns == Seq("country"))
      def parquetsUnder(dir: String): Seq[java.nio.file.Path] = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
        } finally s.close()
      }
      assert(parquetsUnder(cloneDir).isEmpty, "shallow clone must copy no data")
      // partition pruning still works through external references
      assert(clone.toDF.filter($"country" === "US").count() == 2)

      // the clone evolves independently: delete + append touch ONLY the clone
      graft.operators.TableOps.delete(clone, Some("id = 2"))
      clone.append(Seq((9, "z", "FR")).toDF("id", "name", "country"))
      assert(clone.toDF.count() == 3)
      assert(src.toDF.count() == 3 && src.version == 0L, "source must be untouched")

      // the source evolving does not move the clone (snapshot pinned at clone time)
      src.append(Seq((10, "s", "DE")).toDF("id", "name", "country"))
      assert(clone.toDF.collect().map(_.getInt(0)).toSet == Set(1, 3, 9))

      // the clone's vacuum never deletes EXTERNAL files: the delete above
      // tombstoned external US references — vacuum drops the log entries
      // but the source still reads its own files fine
      graft.operators.TableOps.vacuum(clone, retainVersion = clone.version)
      assert(src.toDF.count() == 4, "clone vacuum deleted source data")
      assert(clone.toDF.count() == 3)

      // cloning onto an existing table is refused
      assertThrows[IllegalArgumentException] {
        GraftTable.shallowClone(spark, srcDir, cloneDir)
      }
    }

    it("a clone of a bloom-indexed table reads correctly with conservative probes") {
      val srcDir = tmpTableDir("graft-clone-bloom-src")
      val rows = (0 until 256).map(i => (i * 2, s"v$i"))
      GraftTable.create(spark, srcDir, rows.toDF("id", "name").repartition(4),
        properties = Map(graft.tables.BloomIndex.ColumnsProperty -> "id"))
      val clone = GraftTable.shallowClone(spark, srcDir,
        tmpTableDir("graft-clone-bloom-dst"))
      // cloned stats carry NO sidecar pointer (it references the source's
      // _bloom dir) — equality probes keep all files, rows read correctly
      assert(clone.snapshot.files.forall(f =>
        GraftLog.parseStats(f.stats).forall(_.bloomSidecar.isEmpty)))
      val cls = FileSkipping.classify(spark, clone.toDF, "id = 9")
      assert(FileSkipping.filesMatching(clone.snapshot, cls.all,
        Some(BloomIndex.ProbeContext(spark, clone.path))).size == 4)
      assert(clone.toDF.filter($"id" === 8).count() == 1)
      // a WRITE to the clone re-indexes locally: the new file gets a sidecar
      clone.append(Seq((9999, "local")).toDF("id", "name"))
      val t2 = GraftTable.forPath(spark, clone.path)
      val localFile = t2.snapshot.files.find(f => !GraftTable.isExternalPath(f.path)).get
      assert(GraftLog.parseStats(localFile.stats).exists(_.bloomSidecar.nonEmpty))
    }

    it("streaming source works over a shallow clone") {
      val srcDir = tmpTableDir("graft-clone-stream-src")
      GraftTable.create(spark, srcDir, Seq((1, "a"), (2, "b")).toDF("id", "name"))
      val clone = GraftTable.shallowClone(spark, srcDir,
        tmpTableDir("graft-clone-stream-dst"))
      val sink = "clone_stream_" + System.nanoTime()
      val query = spark.readStream.format("graft").load(clone.path)
        .writeStream.format("memory").queryName(sink).outputMode("append").start()
      try {
        query.processAllAvailable() // snapshot batch reads EXTERNAL files
        assert(spark.table(sink).count() == 2)
        clone.append(Seq((3, "c")).toDF("id", "name")) // local change streams
        query.processAllAvailable()
        assert(spark.table(sink).count() == 3)
      } finally query.stop()
    }

    it("idempotent batch writes: txnAppId/txnVersion dedupe replays") {
      val dir = tmpTableDir("graft-idem")
      def w(v: Long, rows: Seq[(Int, String)]): Unit =
        rows.toDF("id", "name").write.format("graft").mode("append")
          .option("txnAppId", "job1").option("txnVersion", v).save(dir)
      w(1, Seq((1, "a"))) // creates the table, records the watermark
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDF.count() == 1 && t.txnVersion("job1").contains(1L))

      w(1, Seq((1, "a"))) // exact replay: SKIPPED, no new version
      assert(t.toDF.count() == 1 && t.version == 0L)
      w(2, Seq((2, "b"))) // next epoch lands, watermark advances
      assert(t.toDF.count() == 2 && t.txnVersion("job1").contains(2L))
      w(1, Seq((9, "x"))) // stale replay below the watermark: skipped
      assert(t.toDF.count() == 2 && t.version == 1L)

      // an unrelated appId has its own watermark
      Seq((3, "c")).toDF("id", "name").write.format("graft").mode("append")
        .option("txnAppId", "job2").option("txnVersion", 1).save(dir)
      assert(t.toDF.count() == 3 && t.txnVersion("job2").contains(1L))

      // one option without the other is a configuration error
      val e = intercept[Exception] {
        Seq((4, "d")).toDF("id", "name").write.format("graft").mode("append")
          .option("txnAppId", "job3").save(dir)
      }
      assert(graft.Causes.messages(e).exists(_.contains("must be set together")),
        graft.Causes.messages(e).mkString("; "))
    }

    it("CREATE TABLE ... USING graft DDL round-trips: fresh schema, adoption, mismatch") {
      // fresh location + declared schema → an empty graft table materializes
      // (zero-file commit), and the catalog name resolves through forName
      val dir = tmpTableDir("graft-ddl-fresh")
      spark.sql(s"CREATE TABLE ddl_fresh (id INT, name STRING) USING graft LOCATION '$dir'")
      try {
        assert(GraftTable.exists(dir))
        val t = GraftTable.forName(spark, "ddl_fresh")
        assert(t.version == 0L && t.snapshot.numFiles == 0)
        assert(t.snapshot.schema.fieldNames.toSeq == Seq("id", "name"))
        spark.sql("INSERT INTO ddl_fresh VALUES (1, 'a'), (2, 'b')")
        assert(spark.table("ddl_fresh").count() == 2)
        assert(GraftTable.forName(spark, "ddl_fresh").version == 1L)
      } finally spark.sql("DROP TABLE IF EXISTS ddl_fresh")

      // existing location without a column list → adopts the table's schema
      val dir2 = tmpTableDir("graft-ddl-exist")
      GraftTable.create(spark, dir2, Seq((1, "x")).toDF("id", "name"))
      try {
        spark.sql(s"CREATE TABLE ddl_adopt USING graft LOCATION '$dir2'")
        assert(spark.table("ddl_adopt").count() == 1)
        assert(GraftTable.forName(spark, "ddl_adopt").path == dir2)
        // a DECLARED schema that contradicts the log fails loudly — the log,
        // not the catalog, owns the schema
        val e = intercept[Exception] {
          spark.sql(s"CREATE TABLE ddl_bad (wrong DOUBLE) USING graft LOCATION '$dir2'")
        }
        assert(Causes.messages(e).exists(_.contains("does not match the graft table")),
          Causes.messages(e).mkString("; "))
      } finally {
        spark.sql("DROP TABLE IF EXISTS ddl_adopt")
        spark.sql("DROP TABLE IF EXISTS ddl_bad")
      }
    }

    it("optimizeWrite coalesces a sharded append into right-sized files") {
      import org.apache.spark.sql.functions.{col, format_string}
      val t = GraftTable.create(spark, tmpTableDir("graft-optwrite"),
        Seq((0, "seed")).toDF("id", "name"),
        properties = Map(TableWriter.OptimizeWriteProperty -> "true"))
      // a 8-shard append of tiny data must land as ONE file, not 8
      t.append(spark.range(1000).select(col("id").cast("int").as("id"),
        col("id").cast("string").as("name")).repartition(8))
      val appended = t.log.actionsAt(1L).collect { case a: AddFile => a }
      assert(appended.size == 1, s"got ${appended.size} files")
      assert(t.toDF.count() == 1001)

      // WITHOUT the property the same append keeps its 8 shards
      val t2 = GraftTable.create(spark, tmpTableDir("graft-noopt"),
        Seq((0, "seed")).toDF("id", "name"))
      t2.append(spark.range(1000).select(col("id").cast("int").as("id"),
        col("id").cast("string").as("name")).repartition(8))
      assert(t2.log.actionsAt(1L).collect { case a: AddFile => a }.size == 8)
    }

    it("optimizeWrite leaves OPTIMIZE output alone so zorder layout survives") {
      import org.apache.spark.sql.functions.col
      // zorder pins 8 clustered files; a re-bin would collapse them to one
      // round-robin file and wipe the clustering it just built
      def rev(x: Int): Int = Integer.reverse(x) >>> (32 - 12)
      val rows = (0 until 4096).map(i => (i, rev(i)))
      val t = GraftTable.create(spark, tmpTableDir("graft-optwrite-zorder"),
        rows.toDF("x", "y").repartition(1),
        properties = Map(TableWriter.OptimizeWriteProperty -> "true"))
      t.append((4096 until 8192).map(i => (i, rev(i % 4096))).toDF("x", "y"))
      graft.operators.TableOps.zorder(t, Seq("x", "y"), numFiles = Some(8))
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.snapshot.numFiles == 8, s"got ${t2.snapshot.numFiles}")
      assert(t2.toDF.count() == 8192)
    }

    it("optimizeWrite splits a hot partition across bins by size") {
      import org.apache.spark.sql.functions.col
      // one partition value holding most of the bytes must span MULTIPLE
      // right-sized files, not collapse into a single writer task
      val hot = (0 until 5000).map(i => (i, "hot", java.util.UUID.randomUUID.toString))
      val cold = (0 until 10).map(i => (i, "cold", "y"))
      val t = GraftTable.create(spark, tmpTableDir("graft-optwrite-hot"),
        (hot ++ cold).toDF("id", "part", "pad").repartition(16),
        partitionColumns = Seq("part"),
        properties = Map(TableWriter.OptimizeWriteProperty -> "true",
          TableWriter.TargetFileSizeProperty -> "20000"))
      val hotFiles = t.snapshot.files.count(_.partitionValues("part") == "hot")
      assert(hotFiles > 1, s"hot partition collapsed to $hotFiles file(s)")
      assert(t.snapshot.files.exists(_.partitionValues("part") == "cold"))
      assert(t.toDF.count() == 5010)
    }

    it("optimizeWrite rejects a non-positive target file size loudly") {
      val e = intercept[IllegalArgumentException] {
        GraftTable.create(spark, tmpTableDir("graft-optwrite-bad"),
          spark.range(100).toDF("id").repartition(4),
          properties = Map(TableWriter.OptimizeWriteProperty -> "true",
            TableWriter.TargetFileSizeProperty -> "0"))
      }
      assert(e.getMessage.contains(TableWriter.TargetFileSizeProperty), e.getMessage)
    }

    it("a commit removing a path a winner re-added aborts (restore-revival guard)") {
      val t = GraftTable.create(spark, tmpTableDir("graft-readd-conflict"),
        Seq((1, "a")).toDF("id", "name").repartition(1))
      val read = t.snapshot
      val victim = read.files.head.path
      // winner at v1 re-adds the same path — what a concurrent RESTORE does
      // when it revives a previously-removed file
      t.log.commit(1L, Seq(AddFile(victim),
        CommitInfo(System.currentTimeMillis(), "RESTORE")))
      val e = intercept[java.util.ConcurrentModificationException] {
        TableWriter.write(spark, t.path, t.toDF.limit(0), TableWriter.Append,
          operation = "FSCK", removeFiles = Seq(victim),
          read = Some(Left(read)), skipDataWrite = true)
      }
      assert(e.getMessage.contains("conflict"), e.getMessage)
      // ... and names the re-added path and the winning version
      assert(e.getMessage.contains(s"version 1 re-added $victim"), e.getMessage)
    }

    it("autoCompact rewrites accumulated small files once the threshold is hit") {
      import org.apache.spark.sql.functions.col
      val t = GraftTable.create(spark, tmpTableDir("graft-autocompact"),
        Seq((0, "seed")).toDF("id", "name"),
        properties = Map(TableWriter.AutoCompactProperty -> "true",
          TableWriter.AutoCompactMinFilesProperty -> "4"))
      // three 1-file appends stay under the threshold: no OPTIMIZE yet
      (1 to 2).foreach(i => t.append(Seq((i, s"r$i")).toDF("id", "name").repartition(1)))
      def ops = t.log.versions().flatMap(v => t.log.actionsAt(v))
        .collect { case c: CommitInfo => c.operation }
      assert(!ops.contains("OPTIMIZE"), s"compacted too early: $ops")
      // the 4th small file crosses minNumFiles=4 → one auto OPTIMIZE commit
      t.append(Seq((3, "r3")).toDF("id", "name").repartition(1))
      val t2 = GraftTable.forPath(spark, t.path)
      assert(ops.count(_ == "OPTIMIZE") == 1, s"expected one auto compaction: $ops")
      assert(t2.snapshot.numFiles == 1, s"got ${t2.snapshot.numFiles} files")
      assert(t2.toDF.count() == 4)
      // compaction output is above... under target again, but count(1) < 4:
      // the follow-on commit must NOT cascade into more OPTIMIZE commits
      t.append(Seq((4, "r4")).toDF("id", "name").repartition(1))
      assert(ops.count(_ == "OPTIMIZE") == 1, s"cascaded: $ops")
    }

    it("autoCompact never fails the triggering write and skips add-free commits") {
      import org.apache.spark.sql.functions.col
      // a malformed sizing property must not fail the commit that landed
      val t = GraftTable.create(spark, tmpTableDir("graft-autocompact-bad"),
        Seq((0, "seed")).toDF("id", "name"),
        properties = Map(TableWriter.AutoCompactProperty -> "true",
          TableWriter.AutoCompactMinFilesProperty -> "not-a-number"))
      (1 to 3).foreach(i => t.append(Seq((i, s"r$i")).toDF("id", "name").repartition(1)))
      assert(t.toDF.count() == 4) // every append committed despite the bad property

      // a pure DELETE adds no files: no compaction sweep may follow it
      val t2 = GraftTable.create(spark, tmpTableDir("graft-autocompact-del"),
        (0 until 8).map(i => (i, s"v$i")).toDF("id", "name").repartition(2),
        properties = Map(TableWriter.AutoCompactProperty -> "true",
          TableWriter.AutoCompactMinFilesProperty -> "2"))
      // create itself compacts (2 files ≥ 2); the delete that follows must not
      val vBefore = t2.version
      graft.operators.TableOps.delete(t2, Some("id < 0")) // removes nothing, adds nothing
      val opsAfter = t2.log.versions().filter(_ > vBefore)
        .flatMap(v => t2.log.actionsAt(v)).collect { case c: CommitInfo => c.operation }
      assert(!opsAfter.contains("OPTIMIZE"), s"add-free commit triggered compaction: $opsAfter")
    }

    it("autoCompact only rewrites the partitions the commit touched") {
      import org.apache.spark.sql.functions.col
      val df0 = (0 until 8).map(i => (i, "cold")).toDF("id", "part")
      // two cold files: below the threshold at create, so no compaction yet
      val t = GraftTable.create(spark, tmpTableDir("graft-autocompact-part"),
        df0.repartition(2), partitionColumns = Seq("part"),
        properties = Map(TableWriter.AutoCompactProperty -> "true",
          TableWriter.AutoCompactMinFilesProperty -> "3"))
      val coldFiles = t.snapshot.files.filter(_.partitionValues("part") == "cold").map(_.path).toSet
      assert(coldFiles.size == 2, "fixture needs two cold files")
      // hot-partition appends cross the threshold IN THAT PARTITION only
      (0 until 3).foreach(i =>
        t.append(Seq((100 + i, "hot")).toDF("id", "part").repartition(1)))
      val t2 = GraftTable.forPath(spark, t.path)
      val hotNow = t2.snapshot.files.filter(_.partitionValues("part") == "hot")
      val coldNow = t2.snapshot.files.filter(_.partitionValues("part") == "cold").map(_.path).toSet
      assert(hotNow.size == 1, s"hot partition not compacted: ${hotNow.size}")
      assert(coldNow == coldFiles, "cold partition files must be untouched")
      assert(t2.toDF.count() == 11)
    }

    it("clusterBy on a NESTED leaf keeps skippable per-file ranges; container paths refuse") {
      def survivors(t: GraftTable, cond: String): Int = {
        val c = graft.tables.FileSkipping.classify(spark, t.toDF, cond)
        graft.tables.FileSkipping.filesMatching(t.snapshot, c.all, None).size
      }
      val shuffled = scala.util.Random.shuffle((0 until 20000).toList)
      val t = GraftTable.create(spark, tmpTableDir("graft-cb-nested"),
        shuffled.toDF("id")
          .selectExpr("named_struct('k', id, 'v', concat('v', id)) AS s").repartition(8),
        properties = Map(
          TableWriter.OptimizeWriteProperty -> "true",
          TableWriter.TargetFileSizeProperty -> "65536",
          TableWriter.ClusterByProperty -> "s.k"))
      assert(t.snapshot.numFiles > 1, s"fixture needs several files: ${t.snapshot.numFiles}")
      assert(survivors(t, "s.k = 17") <= 2,
        s"nested clustered write must skip: kept ${survivors(t, "s.k = 17")} of ${t.snapshot.numFiles}")
      assert(t.toDF.count() == 20000)
      // a path through an array has no one-value-per-row leaf — loud refusal
      val e = intercept[IllegalArgumentException] {
        GraftTable.create(spark, tmpTableDir("graft-cb-bad"),
          spark.range(100).selectExpr("array(id) AS a").repartition(4),
          properties = Map(
            TableWriter.OptimizeWriteProperty -> "true",
            TableWriter.TargetFileSizeProperty -> "65536",
            TableWriter.ClusterByProperty -> "a.element"))
      }
      assert(e.getMessage.contains("struct-leaf"))
    }

    it("clusterBy keeps per-file ranges tight through writes and compaction") {
      import org.apache.spark.sql.functions.col
      def survivors(t: GraftTable, cond: String): Int = {
        val c = graft.tables.FileSkipping.classify(spark, t.toDF, cond)
        graft.tables.FileSkipping.filesMatching(t.snapshot, c.all, None).size
      }
      // shuffled ids; target sized so the re-bin makes ~4 files. Without
      // clustering every file spans the whole id range (nothing skips);
      // with clusterBy the ranges are near-disjoint and a point probe
      // keeps ~1 file
      val shuffled = scala.util.Random.shuffle((0 until 20000).toList)
        .map(i => (i, s"v$i"))
      val t = GraftTable.create(spark, tmpTableDir("graft-clusterby"),
        shuffled.toDF("id", "name").repartition(8),
        properties = Map(
          TableWriter.OptimizeWriteProperty -> "true",
          TableWriter.TargetFileSizeProperty -> "65536",
          TableWriter.ClusterByProperty -> "id"))
      assert(t.snapshot.numFiles > 1, s"fixture needs several files: ${t.snapshot.numFiles}")
      assert(survivors(t, "id = 17") <= 2,
        s"clustered write must skip: kept ${survivors(t, "id = 17")} of ${t.snapshot.numFiles}")
      assert(t.toDF.count() == 20000)

      // autoCompact on the same table re-clusters instead of round-robining:
      // the OPTIMIZE commit's own output files must carry near-disjoint id
      // ranges (a point key falls inside exactly one file's [min,max])
      val t2 = GraftTable.create(spark, tmpTableDir("graft-clusterby-ac"),
        shuffled.take(4000).toDF("id", "name").repartition(1),
        properties = Map(
          TableWriter.AutoCompactProperty -> "true",
          TableWriter.AutoCompactMinFilesProperty -> "3",
          TableWriter.TargetFileSizeProperty -> "65536",
          TableWriter.ClusterByProperty -> "id"))
      (0 until 2).foreach(k => t2.append(
        shuffled.slice(4000 + k * 4000, 8000 + k * 4000).toDF("id", "name").repartition(1)))
      val t2r = GraftTable.forPath(spark, t2.path)
      val optAdds = t2r.log.versions().map(v => t2r.log.actionsAt(v))
        .find(_.collectFirst { case c: CommitInfo => c.operation }
          .contains("OPTIMIZE"))
        .map(_.collect { case a: AddFile => a }).getOrElse(Nil)
      assert(optAdds.size > 1, s"expected a multi-file clustered compaction, got ${optAdds.size}")
      val covering = optAdds.flatMap(a => GraftLog.parseStats(a.stats)).count { st =>
        st.minValues.get("id").exists(_.toLong <= 17L) &&
          st.maxValues.get("id").exists(_.toLong >= 17L)
      }
      assert(covering == 1,
        s"clustered compaction must give near-disjoint ranges; $covering of ${optAdds.size} files cover id=17")
      assert(t2r.toDF.count() == 12000)

      // a narrower schema-merging append lacking the cluster column is a
      // SUPPORTED write (its values are all null there) — it must re-bin
      // without clustering, not fail
      // Option extra → nullable cluster column (a NOT NULL brand would
      // rightly refuse the narrower append, as Delta does)
      val t3 = GraftTable.create(spark, tmpTableDir("graft-clusterby-narrow"),
        (0 until 200).map(i => (i, s"v$i", Option(i))).toDF("id", "name", "extra").repartition(1),
        properties = Map(
          TableWriter.OptimizeWriteProperty -> "true",
          TableWriter.ClusterByProperty -> "extra"))
      t3.append((200 until 400).map(i => (i, s"v$i")).toDF("id", "name").repartition(8))
      assert(t3.toDF.count() == 400)
      assert(t3.toDF.filter($"extra".isNull).count() == 200)

      // unknown cluster column fails the write loudly
      val e = intercept[IllegalArgumentException] {
        GraftTable.create(spark, tmpTableDir("graft-clusterby-bad"),
          Seq((1, "a")).toDF("id", "name").repartition(2),
          properties = Map(
            TableWriter.OptimizeWriteProperty -> "true",
            TableWriter.ClusterByProperty -> "nope"))
      }
      assert(e.getMessage.contains("nope"), e.getMessage)
    }

    it("optimizeWrite preserves string partition values that look numeric") {
      import org.apache.spark.sql.functions.{col, format_string}
      // partition value "00" must stay the STRING "00" through the re-bin
      // read-back (path inference would collapse it to int 0)
      val df = spark.range(100).select(col("id").cast("int").as("id"),
        format_string("%02d", col("id") % 3).as("part"))
      val t = GraftTable.create(spark, tmpTableDir("graft-optwrite-part"),
        df.repartition(8), partitionColumns = Seq("part"),
        properties = Map(TableWriter.OptimizeWriteProperty -> "true"))
      assert(t.snapshot.schema("part").dataType ==
        org.apache.spark.sql.types.StringType)
      assert(t.toDF.select("part").distinct().collect().map(_.getString(0)).toSet ==
        Set("00", "01", "02"))
      // one output slot clustered by partition column → one file per value
      assert(t.snapshot.numFiles == 3, s"got ${t.snapshot.numFiles}")
      assert(t.toDF.count() == 100)
    }

    it("CHECK constraints resolve qualified and struct references honestly") {
      import org.apache.spark.sql.functions.{col, struct}
      // struct-field predicate: the head part (the struct COLUMN) is what
      // schema bookkeeping tracks — enforcement and orphan protection work
      val t = GraftTable.create(spark, tmpTableDir("graft-check-struct"),
        Seq((1, 5), (2, 6)).toDF("id", "v")
          .select(col("id"), struct(col("v").as("a")).as("s")),
        properties = Map(GraftTable.ConstraintPropertyPrefix + "pos_a" -> "s.a > 0"))
      t.append(Seq((3, 7)).toDF("id", "v")
        .select(col("id"), struct(col("v").as("a")).as("s")))
      val e1 = intercept[Exception] {
        t.append(Seq((4, -1)).toDF("id", "v")
          .select(col("id"), struct(col("v").as("a")).as("s")))
      }
      assert(Causes.messages(e1).exists(_.contains("CHECK constraint pos_a")),
        Causes.messages(e1).mkString("; "))
      // an overwrite dropping the struct column is a constraint orphan
      val e2 = intercept[Exception] { t.overwrite(Seq((9, 9)).toDF("id", "v")) }
      assert(Causes.messages(e2).exists(_.contains("drop column")),
        Causes.messages(e2).mkString("; "))

      // an alias-qualified reference that matches no column must surface as
      // a RESOLUTION failure naming the reference — not the misleading
      // "write would drop column t" (head-taking bug). The constraint rides
      // in as a table property, so the very first data write trips it.
      val e3 = intercept[Exception] {
        GraftTable.create(spark, tmpTableDir("graft-check-qual"),
          Seq((1, "a")).toDF("id", "name"),
          properties = Map(GraftTable.ConstraintPropertyPrefix + "qual" -> "t.id > 0"))
      }
      val msgs = Causes.messages(e3)
      assert(!msgs.exists(_.contains("drop column")), msgs.mkString("; "))
      assert(msgs.exists(m => m.contains("t.id") || m.contains("`t`.`id`")),
        msgs.mkString("; "))
    }

    it("DDL schema match is column-order-insensitive") {
      // partitioned tables legitimately list partition columns LAST in
      // relation order while the DDL lists them in logical order — same
      // (name → type) mapping, different sequence; both must be accepted
      val dir = tmpTableDir("graft-ddl-order")
      GraftTable.create(spark, dir,
        Seq((1, "x", "p0")).toDF("id", "name", "part"),
        partitionColumns = Seq("part"))
      try {
        spark.sql(
          s"CREATE TABLE ddl_order (part STRING, id INT, name STRING) USING graft LOCATION '$dir'")
        assert(spark.table("ddl_order").count() == 1)
        // a genuine TYPE mismatch still fails even when names align
        val e = intercept[Exception] {
          spark.sql(
            s"CREATE TABLE ddl_order2 (part STRING, id DOUBLE, name STRING) USING graft LOCATION '$dir'")
        }
        assert(Causes.messages(e).exists(_.contains("does not match the graft table")),
          Causes.messages(e).mkString("; "))
      } finally {
        spark.sql("DROP TABLE IF EXISTS ddl_order")
        spark.sql("DROP TABLE IF EXISTS ddl_order2")
      }
    }

    it("registerTable lands in the real Spark catalog: SQL reads, listTables, INSERT") {
      val dir = tmpTableDir("graft-catalog")
      val t = GraftTable.create(spark, dir,
        Seq((1, "a", 10), (2, "b", 20), (3, "c", 30)).toDF("id", "name", "score"))
      val name = "cat_tbl_" + System.nanoTime
      GraftTable.registerTable(spark, name, dir)

      assert(spark.catalog.listTables().collect().exists(_.name == name))
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 3L)
      assert(spark.sql(s"SELECT name FROM $name WHERE score > 15 ORDER BY id")
        .as[String].collect().toSeq == Seq("b", "c"))

      // SQL INSERT INTO goes through the graft commit protocol
      spark.sql(s"INSERT INTO $name VALUES (4, 'd', 40)")
      assert(t.version == 1L)
      assert(spark.sql(s"SELECT count(*) AS n FROM $name").head().getLong(0) == 4L)

      // the catalog table must follow the LOG, not the directory: an
      // overwrite tombstones the old files but leaves them on disk, and a
      // directory-level (plain parquet) read would double-count
      t.overwrite(Seq((9, "z", 90)).toDF("id", "name", "score"))
      assert(spark.sql(s"SELECT id FROM $name").as[Int].collect().toSeq == Seq(9))

      // catalog-only resolution: a fresh name with no session-conf entry
      val sqlName = "cat_sql_" + System.nanoTime
      spark.sql(s"CREATE TABLE $sqlName USING graft LOCATION '$dir'")
      assert(GraftTable.forName(spark, sqlName).toDF.count() == 1)
    }

    it("SQL-name reads plan as the native vectorized parquet scan with pruning") {
      val dir = tmpTableDir("graft-nativescan")
      val rows = (1 to 400).map(i => (i, i % 4, s"v$i"))
      GraftTable.create(spark, dir,
        rows.toDF("id", "seg", "v").repartition(4, $"seg"),
        partitionColumns = Seq("seg"))
      val name = "native_tbl_" + System.nanoTime
      GraftTable.registerTable(spark, name, dir)

      // the optimizer rewrite swaps GraftRelation for the file-index-backed
      // HadoopFsRelation: the physical plan is the stock vectorized parquet
      // scan (no RDD scan / row conversion in sight)
      val q = spark.sql(s"SELECT id, v FROM $name WHERE id > 100 AND seg = 2")
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("FileScan parquet"), s"no native FileScan in:\n$phys")
      assert(phys.contains("Batched: true"), "scan is not vectorized")
      assert(!phys.contains("ExistingRDD"), "fell back to an RDD scan")
      assert(q.count() == rows.count(r => r._1 > 100 && r._2 == 2))

      // the file index prunes partitions EXACTLY and skips by footer stats
      import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThan, Literal}
      import org.apache.spark.sql.types.IntegerType
      val snap = GraftTable.forPath(spark, dir).snapshot
      val index = new graft.sources.GraftFileIndex(spark, dir,
        org.apache.spark.sql.types.StructType(snap.schema.fields.filter(_.name == "seg")),
        snap, followsLog = true)
      val all = index.listFiles(Nil, Nil).flatMap(_.files)
      val pruned = index.listFiles(
        Seq(EqualTo(AttributeReference("seg", IntegerType)(), Literal(2))), Nil).flatMap(_.files)
      assert(pruned.nonEmpty && pruned.size < all.size,
        s"partition pruning ineffective: ${pruned.size} of ${all.size}")
      val skipped = index.listFiles(Nil,
        Seq(GreaterThan(AttributeReference("id", IntegerType)(), Literal(1000)))).flatMap(_.files)
      assert(skipped.isEmpty, "stats skipping kept files that provably cannot match")
    }

    it("versionAsOf / timestampAsOf reader options time-travel the read") {
      val dir = tmpTableDir("graft-tt")
      val t = GraftTable.create(spark, dir, Seq((1, "v0")).toDF("id", "v")) // v0
      t.append(Seq((2, "v1")).toDF("id", "v"))                              // v1
      t.overwrite(Seq((9, "v2")).toDF("id", "v"))                           // v2

      def rd = spark.read.format("graft")
      assert(rd.option("versionAsOf", 0).load(dir)
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet == Set((1, "v0")))
      assert(rd.option("versionAsOf", 1).load(dir)
        .collect().map(_.getInt(0)).toSet == Set(1, 2))
      assert(rd.load(dir).collect().map(_.getInt(0)).toSet == Set(9))

      // the pinned read still plans as the native vectorized parquet scan
      val q = rd.option("versionAsOf", 1).load(dir).filter($"id" > 0)
      val phys = q.queryExecution.executedPlan.toString
      assert(phys.contains("FileScan parquet"), s"no native FileScan in:\n$phys")

      // timestampAsOf resolves to the latest commit at-or-before the ts;
      // zone-less strings bind to the SESSION timezone (UTC here), so render
      // the commit instant in UTC — not via java.sql.Timestamp (JVM tz)
      val history = t.history().toMap
      val ts1 = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
        .format(java.time.Instant.ofEpochMilli(history(1L).timestamp))
      assert(rd.option("timestampAsOf", ts1).load(dir)
        .collect().map(_.getInt(0)).toSet == Set(1, 2))
      // an explicit-offset ISO instant ignores the session zone entirely
      assert(rd.option("timestampAsOf",
        java.time.Instant.ofEpochMilli(history(1L).timestamp).toString).load(dir)
        .collect().map(_.getInt(0)).toSet == Set(1, 2))

      // session-timezone binding of zone-less forms: the same wall-clock
      // string is 8h of epoch apart between UTC and Los Angeles
      import graft.sources.GraftDataSource.parseTimestampMillis
      assert(parseTimestampMillis("2026-01-15 00:00:00", "America/Los_Angeles") -
        parseTimestampMillis("2026-01-15 00:00:00", "UTC") == 8L * 3600 * 1000)
      // date-only form = midnight in the session zone
      assert(parseTimestampMillis("2026-01-15", "UTC") ==
        parseTimestampMillis("2026-01-15 00:00:00", "UTC"))
      intercept[IllegalArgumentException] {
        rd.option("timestampAsOf", "1999-01-01 00:00:00").load(dir).collect()
      }
      intercept[IllegalArgumentException] {
        rd.option("versionAsOf", 0).option("timestampAsOf", ts1).load(dir).collect()
      }
      // a time-travel relation refuses writes
      intercept[Exception] {
        graft.sources.GraftRelation(spark.sqlContext, dir, Some(0L))
          .insert(Seq((5, "x")).toDF("id", "v"), overwrite = false)
      }
    }

    it("registerTable keeps a backtick-bearing name inside the identifier") {
      // Spark's session catalog rejects backticks in table names outright, so
      // the correct outcome is a LOUD AnalysisException on the full hostile
      // name — not a breakout where `x` USING graft LOCATION 'evil' -- ...`
      // executes as injected SQL (the pre-fix behavior)
      val dir = tmpTableDir("graft-bt")
      GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      val marker = "bt_inject_" + System.nanoTime
      val name = s"x` (id INT); CREATE TABLE $marker (v INT); SELECT `y"
      intercept[org.apache.spark.sql.AnalysisException] {
        GraftTable.registerTable(spark, name, dir)
      }
      assert(!spark.catalog.tableExists(marker),
        "hostile name broke out of identifier quoting and executed SQL")
    }

    it("new tables inherit session-level default properties") {
      spark.conf.set(GraftTable.DefaultsPrefix + "enableChangeDataFeed", "true")
      try {
        val t = GraftTable.create(spark, tmpTableDir("graft-defprops"),
          Seq((1, "a")).toDF("id", "name"))
        assert(t.snapshot.cdfEnabled)
      } finally spark.conf.unset(GraftTable.DefaultsPrefix + "enableChangeDataFeed")
    }

    it("percentDecode handles UTF-8 multi-byte, '+', and malformed escapes") {
      assert(TableWriter.percentDecode("caf%C3%A9") == "caf\u00e9")
      assert(TableWriter.percentDecode("a+b") == "a+b")          // '+' stays literal
      assert(TableWriter.percentDecode("12%3A30") == "12:30")
      assert(TableWriter.percentDecode("x%ZZy") == "x%ZZy")      // malformed: verbatim
      assert(TableWriter.percentDecode("p=99%") == "p=99%")      // truncated escape at end
      assert(TableWriter.percentDecode("99%A") == "99%A")        // 1 hex digit then EOS
      assert(TableWriter.percentDecode("%") == "%")              // lone '%'
      assert(TableWriter.uriMatchesRelPath(
        "file:///tmp/t/city=caf%C3%A9/part-1.parquet", "city=caf\u00e9/part-1.parquet"))
      assert(!TableWriter.uriMatchesRelPath(
        "file:///tmp/t/xcity=a/part-1.parquet", "city=a/part-1.parquet")) // boundary guard
    }

    it("checkpoints every 10 commits; snapshot replays from the checkpoint") {
      val dir = tmpTableDir("graft-ckpt")
      val log = new GraftLog(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
      log.commit(0L, Seq(Metadata(schema.json), CommitInfo(0L, "CREATE TABLE")))
      // 200 synthetic commits: add a file, remove the one from 2 versions ago
      (1L to 200L).foreach { v =>
        val acts = Seq.newBuilder[Action]
        acts += AddFile(s"f$v.parquet", size = v)
        if (v > 2) acts += RemoveFile(s"f${v - 2}.parquet")
        acts += CommitInfo(v, "WRITE")
        log.commit(v, acts.result())
      }
      assert(log.checkpointVersions().nonEmpty)
      assert(log.checkpointVersions().last == 200L)
      val snap = log.snapshot(200L)
      assert(snap.files.map(_.path).toSet == Set("f199.parquet", "f200.parquet"))
      // delete every version file below the last checkpoint: snapshot must
      // still materialize purely from the checkpoint (≤ 2 log reads: the
      // sidecar + nothing after it)
      (0L until 200L).foreach(v => graft.tables.Fs.deleteIfExists(log.versionFile(v)))
      val fromCkpt = log.snapshot(200L)
      assert(fromCkpt.files.map(_.path).toSet == Set("f199.parquet", "f200.parquet"))
      // time travel below a checkpoint still folds version files when present
      assert(log.snapshot(200L).version == 200L)
    }

    it("commit claims a version atomically; losers get CommitConflictException") {
      val dir = tmpTableDir("graft-occ")
      val log = new GraftLog(dir)
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType)))
      log.commit(0L, Seq(Metadata(schema.json), CommitInfo(0L, "CREATE TABLE")))
      assertThrows[CommitConflictException] {
        log.commit(0L, Seq(Metadata(schema.json), CommitInfo(1L, "WRITE")))
      }
    }

    it("no-hard-link fallback claim is O_EXCL: second claimant conflicts, stale claims break") {
      val dir = tmpTableDir("graft-claim")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      val log = t.log
      val target = java.nio.file.Paths.get(log.versionFile(7L))
      def tmpWith(body: String) = {
        val p = java.nio.file.Files.createTempFile(java.nio.file.Paths.get(log.logDir), ".t", ".json.tmp")
        java.nio.file.Files.write(p, body.getBytes("UTF-8")); p
      }
      // first claimant wins and lands its content
      log.publishWithoutLink(tmpWith("one\n"), target, 7L)
      assert(new String(java.nio.file.Files.readAllBytes(target), "UTF-8") == "one\n")
      // second claimant must NOT silently replace (the old ATOMIC_MOVE bug)
      assertThrows[tables.CommitConflictException] {
        log.publishWithoutLink(tmpWith("two\n"), target, 7L)
      }
      assert(new String(java.nio.file.Files.readAllBytes(target), "UTF-8") == "one\n")

      // claims live at a separate `.claim` marker, invisible to readers
      val claimed = java.nio.file.Paths.get(log.versionFile(8L))
      val marker = java.nio.file.Paths.get(log.logDir).resolve(claimed.getFileName.toString + ".claim")
      java.nio.file.Files.createFile(marker)
      assert(!log.versions().contains(8L))
      // a FRESH marker blocks competitors; a STALE one (crashed claimant)
      // is broken — by deleting the MARKER only — and the version recovers
      assertThrows[tables.CommitConflictException] {
        log.publishWithoutLink(tmpWith("x\n"), claimed, 8L)
      }
      java.nio.file.Files.setLastModifiedTime(marker,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - tables.GraftLog.StaleClaimMillis - 1000))
      log.publishWithoutLink(tmpWith("recovered\n"), claimed, 8L)
      assert(new String(java.nio.file.Files.readAllBytes(claimed), "UTF-8") == "recovered\n")
      assert(!java.nio.file.Files.exists(marker), "winner must release its marker")
      // a stale marker can NEVER break a landed commit: age the released
      // slot's history — landing already happened, content stays intact
      assertThrows[tables.CommitConflictException] {
        log.publishWithoutLink(tmpWith("never\n"), claimed, 8L)
      }
      assert(new String(java.nio.file.Files.readAllBytes(claimed), "UTF-8") == "recovered\n")
    }

    it("stale-claim recovery is reachable through commit() itself") {
      // the advisor scenario: a crashed claimant's stale zero-byte debris at
      // the TARGET path (legacy protocol) must not wedge the log — commit()
      // breaks it once stale instead of conflicting forever
      val dir = tmpTableDir("graft-claim-commit")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      val log = t.log
      val debris = java.nio.file.Paths.get(log.versionFile(1L))
      java.nio.file.Files.createFile(debris)
      // fresh debris: writers conflict (could be an in-flight legacy claim)
      assertThrows[tables.CommitConflictException] {
        log.commit(1L, Seq(tables.CommitInfo(1L, "WRITE")))
      }
      // TableWriter sees the same conflict and aborts after bounded retries
      // rather than spinning forever
      assertThrows[java.util.ConcurrentModificationException] {
        t.append(Seq((2, "b")).toDF("id", "name"))
      }
      // stale debris: the next commit through the PUBLIC path breaks it and
      // lands — driven via TableWriter.append, not publishWithoutLink
      java.nio.file.Files.setLastModifiedTime(debris,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - tables.GraftLog.StaleClaimMillis - 1000))
      t.append(Seq((3, "c")).toDF("id", "name"))
      assert(t.version == 1L)
      assert(t.toDF.count() == 2)
    }

    it("concurrent blind appends both land (append retries on conflict)") {
      val dir = tmpTableDir("graft-occ2")
      val t = GraftTable.create(spark, dir, Seq((0, "base")).toDF("id", "name"))
      val perWriter = 5
      val threads = (1 to 2).map { w =>
        new Thread(() => {
          val mine = GraftTable.forPath(spark, dir)
          (0 until perWriter).foreach { i =>
            mine.append(Seq((w * 100 + i, s"w$w-$i")).toDF("id", "name"))
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      // every append committed exactly once, at distinct versions
      assert(t.toDF.count() == 1 + 2 * perWriter)
      assert(t.version == 2L * perWriter)
      // mutations are NOT retried: losing a race aborts with a clear error
      // (exercised at the unit level: a removal-bearing commit into a claimed
      // version surfaces as ConcurrentModificationException via TableWriter)
    }

    it("semantic OCC: partition-disjoint removal commits both succeed") {
      // Writer B's rewrite blocks in a gate UDF during its staging write;
      // the winner deletes a DIFFERENT partition in that window. B's commit
      // then collides and must rebase via the semantic disjointness check
      // instead of aborting (two writers deleting different partitions both
      // succeed — Delta's WriteSerializable rule).
      import org.apache.spark.sql.functions.udf
      val dir = tmpTableDir("graft-occ-sem")
      val rows = Seq((1, "US"), (2, "US"), (1, "DE"), (2, "DE"), (1, "FR"))
      val t = GraftTable.create(spark, dir, rows.toDF("id", "country"),
        partitionColumns = Seq("country"))
      val snap = t.snapshot
      def filesOf(c: String) = snap.files.filter(_.partitionValues("country") == c)

      OccGate.reset()
      val gate = udf { (id: Int) => OccGate.enter(); id < 2 }
      // B: delete DE rows with id >= 2 (rewrites the DE file)
      val bKeep = t.dfForFiles(snap, filesOf("DE")).filter(gate($"id"))
      var bVersion = -1L
      var bError: Option[Throwable] = None
      val b = new Thread(() => {
        try bVersion = TableWriter.write(spark, dir, bKeep, TableWriter.Append,
          operation = "DELETE", removeFiles = filesOf("DE").map(_.path))
        catch { case e: Throwable => bError = Some(e) }
      })
      b.start()
      OccGate.awaitEntered()
      // winner: delete the whole US partition while B is mid-staging
      graft.operators.TableOps.delete(t, Some("country = 'US'"))
      OccGate.release()
      b.join(60000)

      assert(bError.isEmpty, s"disjoint delete aborted: $bError")
      assert(t.version == 2L)
      assert(bVersion == 2L)
      val left = t.toDF.select("id", "country").as[(Int, String)].collect().toSet
      assert(left == Set((1, "DE"), (1, "FR")))
    }

    it("semantic OCC: removal commits touching the SAME file still abort") {
      import org.apache.spark.sql.functions.udf
      val dir = tmpTableDir("graft-occ-conflict")
      val t = GraftTable.create(spark, dir,
        Seq((1, "US"), (2, "US"), (1, "FR")).toDF("id", "country"),
        partitionColumns = Seq("country"))
      val snap = t.snapshot
      val usFiles = snap.files.filter(_.partitionValues("country") == "US")

      OccGate.reset()
      val gate = udf { (id: Int) => OccGate.enter(); id < 2 }
      val bKeep = t.dfForFiles(snap, usFiles).filter(gate($"id"))
      var bError: Option[Throwable] = None
      val b = new Thread(() => {
        try { TableWriter.write(spark, dir, bKeep, TableWriter.Append,
          operation = "DELETE", removeFiles = usFiles.map(_.path)); () }
        catch { case e: Throwable => bError = Some(e) }
      })
      b.start()
      OccGate.awaitEntered()
      graft.operators.TableOps.delete(t, Some("country = 'US'")) // same files
      OccGate.release()
      b.join(60000)

      assert(bError.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
        s"same-file race must abort, got: $bError")
      // the winner's delete stands untouched
      assert(t.toDF.select("country").as[String].collect().toSet == Set("FR"))
    }

    it("semantic OCC: a winner removing a READ (candidate) file aborts the merge") {
      // B's merge touches only the US file, but its candidate set (the
      // condition has no target-only conjunct) spans every file — the DE
      // file was READ to decide matches. The winner deletes DE while B is
      // mid-flight: rebasing would re-commit B's now-stale match decisions
      // (Delta raises ConcurrentDeleteReadException here even under
      // WriteSerializable), so B must abort.
      import org.apache.spark.sql.functions.udf
      val dir = tmpTableDir("graft-occ-read")
      val t = GraftTable.create(spark, dir,
        Seq((1, "a", "US"), (2, "b", "US"), (3, "c", "DE"), (5, "e", "FR"))
          .toDF("id", "name", "country"),
        partitionColumns = Seq("country"))
      OccGate.reset()
      val gate = udf { (id: Int) => OccGate.enter(); id }
      // source keys {1, 4}: the dynamic-pruning range [1,4] keeps US (1..2)
      // and DE (3) as candidates but only US contains a match — DE is
      // read-but-untouched; FR (5) is outside the range and stays fair game
      val src = Seq((1, "a2", "US"), (4, "d", "DE")).toDF("id", "name", "country")
        .withColumn("id", gate($"id"))
      var bError: Option[Throwable] = None
      val b = new Thread(() => {
        try {
          graft.operators.GraftMerge(t, "old").merge(src, "old.id = new.id", Some("new"))
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
          ()
        } catch { case e: Throwable => bError = Some(e) }
      })
      b.start()
      OccGate.awaitEntered()
      // winner removes a candidate file B read but did not rewrite
      graft.operators.TableOps.delete(t, Some("country = 'DE'"))
      OccGate.release()
      b.join(120000)

      assert(bError.exists(_.isInstanceOf[java.util.ConcurrentModificationException]),
        s"merge rebased over a removed candidate (read) file, got: $bError")
      // the winner's delete stands; the merge left no partial effects
      assert(t.toDF.select("id", "name").as[(Int, String)].collect().toSet ==
        Set((1, "a"), (2, "b"), (5, "e")))
    }

    it("setProperties surfaces ConcurrentModificationException after capped retries") {
      val dir = tmpTableDir("graft-props-cap")
      val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name"))
      // a FRESH zero-byte file at the next version path conflicts on every
      // attempt (not stale debris, and invisible to versions(), so the
      // snapshot never advances) — exactly the pathological storm that used
      // to spin forever; the cap must surface it instead
      java.nio.file.Files.createFile(java.nio.file.Paths.get(t.log.versionFile(1L)))
      val e = intercept[java.util.ConcurrentModificationException] {
        t.setProperties(Map("graft.k" -> "v"))
      }
      assert(e.getMessage.contains("SET TBLPROPERTIES"))
      // the table itself is untouched
      assert(t.version == 0L && !t.snapshot.metadata.properties.contains("graft.k"))
    }

    it("handles timestamp and date columns with stats") {
      val dir = tmpTableDir("graft-ts")
      val df = Seq(
        (1L, java.sql.Timestamp.valueOf("2020-01-01 00:00:00"), java.sql.Date.valueOf("2020-01-01")),
        (2L, java.sql.Timestamp.valueOf("2021-06-15 12:30:00"), java.sql.Date.valueOf("2021-06-15"))
      ).toDF("id", "ts", "d")
      val t = GraftTable.create(spark, dir, df.repartition(1))
      assertSmallDataFrameEquality(t.toDF, df)
      val stats = GraftLog.parseStats(t.snapshot.files.head.stats).get
      // timestamps stored as micros-since-epoch strings
      assert(stats.minValues("ts").toLong == java.sql.Timestamp.valueOf("2020-01-01 00:00:00").getTime * 1000)
    }
  }
}
