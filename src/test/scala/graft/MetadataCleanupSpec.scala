package graft

import org.scalatest.funspec.AnyFunSpec

import graft.operators.TableOps
import graft.tables._

class MetadataCleanupSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private def mkTable(dir: String, commits: Int): GraftTable = {
    val t = GraftTable.create(spark, dir, Seq((0, "v0")).toDF("id", "payload"))
    (1 until commits).foreach(i => t.append(Seq((i, s"v$i")).toDF("id", "payload")))
    t
  }

  describe("TableOps.cleanupMetadata") {
    it("deletes log files below the horizon; state and newer time travel survive") {
      val t = mkTable(tmpTableDir("mc-basic"), 10) // versions 0..9
      val before = t.toDF.collect().map(_.toSeq).sortBy(_.mkString("|"))
      val deleted = TableOps.cleanupMetadata(t, 7)
      assert(deleted >= 7) // versions 0..6 (+ any stale checkpoints)
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.log.versions() == Seq(7L, 8L, 9L))
      val after = t2.toDF.collect().map(_.toSeq).sortBy(_.mkString("|"))
      assert(before.toSeq == after.toSeq)
      // horizon and newer replay; below-horizon raises the missing-version error
      assert(t2.toDFAt(7).count() == 8)
      assert(t2.toDFAt(9).count() == 10)
      intercept[IllegalArgumentException] { t2.toDFAt(3).count() }
    }

    it("the horizon replays self-contained even below the checkpoint interval") {
      val t = mkTable(tmpTableDir("mc-ckpt"), 6) // 0..5, below CheckpointInterval
      TableOps.cleanupMetadata(t, 4)
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.toDFAt(4).count() == 5)
      assert(t2.toDF.count() == 6)
    }

    it("data files reachable only through cleaned versions are deleted, not leaked") {
      import org.apache.spark.sql.functions.col
      def parquetsUnder(dir: String): Set[String] = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.toString)
            .filter(p => p.endsWith(".parquet") && !p.contains("_graft_log")).toSet
        } finally s.close()
      }
      val dir = tmpTableDir("mc-orphans")
      val t = GraftTable.create(spark, dir,
        Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v").repartition(1))
      // two full rewrites: the v0 and v1 files become dead below any later horizon
      TableOps.update(GraftTable.forPath(spark, dir), Some("id = 1"), Map("v" -> "'a1'"))
      TableOps.update(GraftTable.forPath(spark, dir), Some("id = 2"), Map("v" -> "'b1'"))
      val before = parquetsUnder(dir)
      val live = GraftTable.forPath(spark, dir).snapshot.files.map(_.path).toSet
      assert(before.size > live.size, "fixture should carry dead files below the horizon")
      TableOps.cleanupMetadata(GraftTable.forPath(spark, dir), 2)
      val after = parquetsUnder(dir)
      assert(after.size == live.size,
        s"dead files leaked past cleanup: ${(after.size, live.size)}")
      assert(GraftTable.forPath(spark, dir).toDF.where(col("v").isin("a1", "b1")).count() == 2)
    }

    it("the table stays fully writable and vacuumable after cleanup") {
      val t = mkTable(tmpTableDir("mc-write"), 8)
      TableOps.cleanupMetadata(t, 5)
      val t2 = GraftTable.forPath(spark, t.path)
      t2.append(Seq((99, "post")).toDF("id", "payload"))
      assert(GraftTable.forPath(spark, t.path).toDF.count() == 9)
      TableOps.delete(GraftTable.forPath(spark, t.path), Some("id = 0"))
      assert(GraftTable.forPath(spark, t.path).toDF.count() == 8)
      val latest = GraftTable.forPath(spark, t.path).log.latestVersion()
      TableOps.vacuum(GraftTable.forPath(spark, t.path), retainVersion = latest)
      assert(GraftTable.forPath(spark, t.path).toDF.count() == 8)
    }

    it("a zero horizon or an already-clean log is a no-op") {
      val t = mkTable(tmpTableDir("mc-noop"), 4)
      assert(TableOps.cleanupMetadata(t, 0) == 0)
      TableOps.cleanupMetadata(t, 2)
      assert(GraftTable.forPath(spark, t.path).log.versions() == Seq(2L, 3L))
      intercept[IllegalArgumentException] {
        TableOps.cleanupMetadata(GraftTable.forPath(spark, t.path), 1)
      }
    }

    it("graft.enableExpiredLogCleanup expires old log files on checkpoint commits") {
      val dir = tmpTableDir("mc-auto")
      val t = GraftTable.create(spark, dir, Seq((0, "v0")).toDF("id", "payload"),
        properties = Map(
          GraftLog.ExpiredLogCleanupProperty -> "true",
          TableOps.LogRetentionProperty -> "interval 0 hours"))
      // drive past one checkpoint interval; the v10 commit both checkpoints
      // and expires everything below the (zero-retention) horizon. One
      // commit is an UPDATE so a dead data file exists below the horizon —
      // the auto cleanup must take it along, not leak it.
      (1 to GraftLog.CheckpointInterval).foreach { i =>
        Thread.sleep(2)
        if (i == 3)
          graft.operators.TableOps.update(GraftTable.forPath(spark, dir),
            Some("id = 0"), Map("payload" -> "'v0x'"))
        else
          GraftTable.forPath(spark, dir).append(Seq((i, s"v$i")).toDF("id", "payload"))
      }
      val t2 = GraftTable.forPath(spark, dir)
      assert(t2.log.versions().length < GraftLog.CheckpointInterval + 1,
        s"no log file expired: ${t2.log.versions()}")
      assert(t2.toDF.count() == GraftLog.CheckpointInterval)
      val onDisk = {
        val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
        try { import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.toString)
            .filter(p => p.endsWith(".parquet") && !p.contains("_graft_log")).size
        } finally s.close()
      }
      assert(onDisk == t2.snapshot.files.size,
        s"auto cleanup leaked dead files: $onDisk on disk vs ${t2.snapshot.files.size} live")
      t2.append(Seq((99, "post")).toDF("id", "payload"))
      assert(GraftTable.forPath(spark, dir).toDF.count() == GraftLog.CheckpointInterval + 1)
    }

    it("graft.enableExpiredLogCleanup also expires log files when the checkpoint commit is DDL") {
      val dir = tmpTableDir("mc-auto-ddl")
      GraftTable.create(spark, dir, Seq((0, "v0")).toDF("id", "payload"),
        properties = Map(
          GraftLog.ExpiredLogCleanupProperty -> "true",
          TableOps.LogRetentionProperty -> "interval 0 hours"))
      (1 until GraftLog.CheckpointInterval).foreach { i =>
        Thread.sleep(2)
        GraftTable.forPath(spark, dir).append(Seq((i, s"v$i")).toDF("id", "payload"))
      }
      Thread.sleep(2)
      // version 10 — the checkpoint commit — is metadata-only DDL
      val v = GraftTable.forPath(spark, dir).addColumns(
        org.apache.spark.sql.types.StructType.fromDDL("extra STRING"))
      assert(v == GraftLog.CheckpointInterval.toLong)
      val t2 = GraftTable.forPath(spark, dir)
      assert(t2.log.versions().length < GraftLog.CheckpointInterval + 1,
        s"no log file expired: ${t2.log.versions()}")
      assert(t2.toDF.count() == GraftLog.CheckpointInterval)
      assert(t2.snapshot.schema.fieldNames.contains("extra"))
    }

    it("a cleaned log is exactly the missing-delta-log shape the CDF recovery reads handle") {
      val dir = tmpTableDir("mc-cdf")
      val t = GraftTable.create(spark, dir, Seq((0, "a"), (1, "b"), (2, "c")).toDF("id", "v"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      (1 to 4).foreach(i =>
        TableOps.update(GraftTable.forPath(spark, dir), Some(s"id = ${i % 3}"),
          Map("v" -> s"'u$i'")))                                   // v1..v4
      TableOps.cleanupMetadata(GraftTable.forPath(spark, dir), 3)
      // reads fully above the horizon still work
      val above = graft.log.ChangeDataFeedHelper(spark, dir, 3, 4).readCDF
      assert(above.count() > 0)
      // a range reaching below the horizon recovers to the surviving range
      // (same contract as a manually-damaged log, reference C9)
      val rec = graft.log.ChangeDataFeedHelper(spark, dir, 0, 4).readCDFIgnoreMissingDeltaLog
      assert(rec.isDefined)
      assert(rec.get.select("_commit_version").distinct().collect()
        .map(_.getLong(0)).toSet == Set(3L, 4L))
    }

    it("cleanupBelow sweeps orphaned dv sidecar dirs past the age guard") {
      import org.apache.spark.sql.functions.col
      val dir = tmpTableDir("mc-dv")
      val base = spark.range(100).select(col("id"), (col("id") % 10).as("v"))
      val t = GraftTable.create(spark, dir, base,
        properties = Map(DeletionVectors.Property -> "true"))
      TableOps.delete(t, Some("id < 10"))                       // v1: dv dir
      t.overwrite(spark.range(50).toDF("id")
        .select(col("id"), (col("id") % 7).as("v")))            // v2: dv orphaned
      val dvRoot = java.nio.file.Paths.get(dir, DeletionVectors.DirName)
      def dvDirs: Long = {
        val s = java.nio.file.Files.list(dvRoot); try s.count() finally s.close()
      }
      assert(dvDirs == 1)
      // young unreferenced dirs may belong to an in-flight commit — the
      // sweep is age-guarded, so backdate past it (the vacuum-spec idiom)
      val s = java.nio.file.Files.list(dvRoot)
      try s.forEach(p => java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - TableOps.BloomSidecarMinAgeMillis - 1000)))
      finally s.close()
      t.log.cleanupBelow(t.log.latestVersion())
      assert(dvDirs == 0)
      assert(GraftTable.forPath(spark, dir).toDF.count() == 50)
    }

    it("property-driven cleanup keeps versions younger than the cutoff") {
      val t = mkTable(tmpTableDir("mc-prop"), 5)
      // retention 0 hours: every committed version is at-or-before "now",
      // so the horizon is the latest version — only it survives
      t.setProperties(Map(TableOps.LogRetentionProperty -> "interval 0 hours"))
      Thread.sleep(5)
      val deleted = TableOps.cleanupMetadata(GraftTable.forPath(spark, t.path))
      assert(deleted > 0)
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.log.versions().length == 1)
      assert(t2.toDF.count() == 5)
    }
  }
}
