package graft

import org.scalatest.funspec.AnyFunSpec

import graft.log.ChangeDataFeedHelper
import graft.operators.{GraftMerge, TableOps}
import graft.tables.{GraftLog, GraftTable}

class ChangeDataFeedHelperSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private def cdfTable(dir: String): GraftTable =
    GraftTable.create(spark, dir, Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name").repartition(1),
      properties = Map(GraftLog.CdfProperty -> "true"))

  private def upsert(t: GraftTable, rows: Seq[(Int, String)]): Unit =
    GraftMerge(t, "old").merge(rows.toDF("id", "name"), "old.id = new.id", Some("new"))
      .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()

  it("readCDF unions inserts, updates and deletes across versions") {
    val t = cdfTable(tmpTableDir("cdf-read"))
    upsert(t, Seq((1, "A"), (9, "i")))   // v1: 1 update, 1 insert
    TableOps.delete(t, Some("id = 2"))   // v2: 1 delete
    val cdf = ChangeDataFeedHelper(spark, t.path, 0, 2).readCDF
    assert(cdf.columns.toSet ==
      Set("id", "name", "_change_type", "_commit_version", "_commit_timestamp"))
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // v0 synthesized inserts (3) + v1 images + v2 delete
    assert(byType == Map("insert" -> 4L, "update_preimage" -> 1L,
      "update_postimage" -> 1L, "delete" -> 1L))
    val v0 = cdf.filter("_commit_version = 0").count()
    assert(v0 == 3)
  }

  it("a re-added path (adds-only RESTORE) falls back to per-version insert stamps") {
    // v0 creates files A,B; v1 deletes WHOLE file A (pure remove); v2
    // restores to v0, RE-ADDING A with an empty remove set — the plain
    // insert branch then maps base name A to TWO commits (v0 and v2), which
    // one stamped scan cannot represent: the per-version fallback emits the
    // rows once per commit, exactly like the materialized layout did.
    val dir = tmpTableDir("cdf-readd")
    val t = GraftTable.create(spark, dir,
      Seq((1, "a")).toDF("id", "name").coalesce(1),    // v0: file A
      properties = Map(GraftLog.CdfProperty -> "true"))
    t.append(Seq((2, "b")).toDF("id", "name").coalesce(1)) // v1: file B
    TableOps.delete(t, Some("id = 1"))                 // v2: whole-file remove of A
    val rv = TableOps.restore(t, 1L)                   // v3: re-adds A
    assert(rv == 3L)
    val cdf = ChangeDataFeedHelper(spark, dir, 0, 3).readCDF
    val byTypeV = cdf.groupBy("_change_type", "_commit_version").count().collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(byTypeV(("insert", 0L)) == 1L, s"got $byTypeV") // A's row at create
    assert(byTypeV(("insert", 1L)) == 1L, s"got $byTypeV") // B's row appended
    assert(byTypeV(("delete", 2L)) == 1L, s"got $byTypeV") // the removed row
    assert(byTypeV(("insert", 3L)) == 1L, s"got $byTypeV") // A's row returns
  }

  it("a restore re-adding a DV-CARRYING entry falls back off the stamped scan") {
    // v0 create one file A; v1 DV-masks one row (A,d1); v2 DV-masks another
    // (A,d2); v3 restores to v1 — the re-added TARGET entry carries d1, and
    // a DV read goes through the position anti-join where
    // input_file_name() is not scan-reliable: the insert side must take the
    // per-commit constant-stamp fallback, not the name-join scan.
    val dir = tmpTableDir("cdf-dv-readd")
    val t = GraftTable.create(spark, dir,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("id", "name").coalesce(1),
      properties = Map(GraftLog.CdfProperty -> "true",
        graft.tables.DeletionVectors.Property -> "true"))
    TableOps.delete(t, Some("id = 1"))                 // v1: (A, d1)
    TableOps.delete(t, Some("id = 2"))                 // v2: (A, d2)
    val rv = TableOps.restore(t, 1L)                   // v3: re-add (A, d1)
    val t2 = GraftTable.forPath(spark, dir)
    assert(t2.snapshot.files.exists(_.dv.exists(_.cardinality == 1)),
      "fixture must re-add the dv-carrying target entry")
    assert(t2.toDF.count() == 3)
    val cdf = ChangeDataFeedHelper(spark, dir, rv, rv).readCDF
    val byType = cdf.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // delete side: v2 state's 2 live rows; insert side: v1 state's 3 live
    assert(byType == Map("delete" -> 2L, "insert" -> 3L), s"got $byType")
  }

  it("the readChangeFeed reader option matches the helper and resolves timestamp bounds") {
    val t = cdfTable(tmpTableDir("cdf-reader-opt"))
    upsert(t, Seq((1, "A"), (9, "i")))   // v1
    TableOps.delete(t, Some("id = 2"))   // v2
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "name", "_change_type", "_commit_version").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(identity).view.mapValues(_.size).toMap

    val viaHelper = rows(ChangeDataFeedHelper(spark, t.path, 1, 2).readCDF)
    val viaOption = rows(spark.read.format("graft")
      .option("readChangeFeed", "true")
      .option("startingVersion", 1)
      .option("endingVersion", 2).load(t.path))
    assert(viaOption == viaHelper && viaHelper.nonEmpty)

    // endingVersion defaults to the latest commit
    assert(rows(spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", 1).load(t.path)) == viaHelper)

    // timestamp bounds: start = earliest commit at-or-after, end = latest
    // at-or-before (rendered in the session timezone, UTC here). Commit
    // timestamps are CLOCK-CONTROLLED first: consecutive test commits can
    // land in the same millisecond, and with v0.ts == v1.ts the at-or-after
    // rule correctly resolves to v0 — which is not what this case pins
    Seq(0L -> 3, 1L -> 2, 2L -> 1).foreach { case (v, h) =>
      val ts = System.currentTimeMillis() - h * 3600L * 1000
      t.log.rewriteVersion(v, t.log.actionsAt(v).map {
        case ci: graft.tables.CommitInfo => ci.copy(timestamp = ts)
        case other                       => other
      })
    }
    val hist = t.history().toMap
    def utc(ms: Long) = java.time.Instant.ofEpochMilli(ms).toString
    assert(rows(spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingTimestamp", utc(hist(1L).timestamp))
      .option("endingTimestamp", utc(hist(2L).timestamp)).load(t.path)) == viaHelper)

    // error shapes
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true").load(t.path)
    }
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingTimestamp", "2099-01-01 00:00:00").load(t.path)
    }
    // snapshot time travel cannot combine with the change feed
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", 1).option("versionAsOf", 1).load(t.path)
    }
  }

  it("readCDF stamps rows from percent-encoded partition paths; no silent drops") {
    // partition values with space, '+', '%', and ':' — Spark percent-encodes
    // them in directory names and input_file_name() returns the encoded URI;
    // every change row must still be stamped (the guard in stamp() raises
    // instead of dropping on any mismatch). Multi-byte values are covered by
    // the percentDecode unit spec — the test JVM's POSIX locale cannot
    // create non-ASCII paths at all.
    val dir = tmpTableDir("cdf-enc")
    val rows = Seq((1, "US east"), (2, "a+b"), (3, "50%off"), (4, "t:colon"))
    // repartition(1): ONE task writes every partition directory, so all four
    // data files share a base name (part-00000-<jobUUID>) — the stamping
    // lookup must dedupe these to a single commit stamp, not double-count
    val t = GraftTable.create(spark, dir, rows.toDF("id", "region").repartition(1),
      partitionColumns = Seq("region"),
      properties = Map(GraftLog.CdfProperty -> "true"))
    t.append(Seq((5, "US east")).toDF("id", "region"))       // v1 insert rows
    TableOps.delete(t, Some("id = 2"))                       // v2 delete image
    val cdf = ChangeDataFeedHelper(spark, t.path, 0, 2).readCDF
    assert(cdf.count() == rows.size + 1 + 1) // 4 creates + 1 insert + 1 delete
    assert(cdf.filter("_commit_version IS NULL OR _commit_timestamp IS NULL").count() == 0)
    val deleted = cdf.filter("_change_type = 'delete'")
      .select("id", "region").as[(Int, String)].collect().toSeq
    assert(deleted == Seq((2, "a+b")))
    assert(cdf.filter("_change_type = 'insert' AND _commit_version = 1")
      .select("id").as[Int].collect().toSeq == Seq(5))
  }

  it("the unmatched-file guard survives pruning to _commit_timestamp alone") {
    // a consumer selecting ONLY _commit_timestamp must keep the loud-failure
    // guard: before the fix, column pruning removed the raise_error branch
    // (it lived only on _commit_version) and unmatched rows surfaced as
    // silent NULL timestamps
    val t = cdfTable(tmpTableDir("cdf-tsguard"))
    upsert(t, Seq((1, "A")))
    val tsOnly = ChangeDataFeedHelper(spark, t.path, 0, 1).readCDF
      .select("_commit_timestamp")
    assert(tsOnly.queryExecution.optimizedPlan.toString.contains("raise_error"),
      "timestamp-only projection lost the unmatched-file guard")
    assert(tsOnly.filter("_commit_timestamp IS NULL").count() == 0)
  }

  it("readCDF over many versions batches into at most two parquet scans") {
    val t = cdfTable(tmpTableDir("cdf-batch"))
    (0 until 50).foreach(i => t.append(Seq((100 + i, s"x$i")).toDF("id", "name")))
    upsert(t, Seq((1, "Z")))  // one cdc-bearing version at the end
    val cdf = ChangeDataFeedHelper(spark, t.path, 0, 51).readCDF
    val scans = "Scan parquet|FileScan".r
      .findAllIn(cdf.queryExecution.executedPlan.toString).length
    assert(scans <= 2, s"expected <=2 parquet scans for 52 versions, got $scans")
    // per-version stamping survives the batched read
    assert(cdf.filter("_commit_version = 25").count() == 1)
    assert(cdf.filter("_change_type = 'insert'").count() == 3 + 50)
    assert(cdf.filter("_change_type = 'update_postimage'").count() == 1)
  }

  it("readCDF refuses a vacuum-horizon rewrite that holds no file actions") {
    // CDF off: v1 deletes the only file; vacuuming to v1 rewrites it as a
    // snapshot of an EMPTY table. Its original change content (the removed
    // row) is gone whatever the rewrite holds, so the read must fail, not
    // silently skip the version
    val dir = tmpTableDir("cdf-horizon-empty")
    val t = GraftTable.create(spark, dir, Seq((1, "a")).toDF("id", "name").coalesce(1))
    TableOps.delete(t, Some("id = 1"))                                // v1
    GraftTable.forPath(spark, dir).append(Seq((2, "b")).toDF("id", "name")) // v2
    TableOps.vacuum(GraftTable.forPath(spark, dir), retainVersion = 1L)
    assert(!t.log.actionsAt(1L).exists {
      case _: graft.tables.AddFile | _: graft.tables.RemoveFile => true
      case _ => false
    }, "fixture must be a horizon rewrite without file actions")
    val e = intercept[IllegalStateException] {
      ChangeDataFeedHelper(spark, dir, 1, 2).readCDF
    }
    assert(e.getMessage.contains("vacuum-horizon rewrite"), e.getMessage)
  }

  it("dryRun passes on an intact range and the helper returns itself") {
    val t = cdfTable(tmpTableDir("cdf-dry"))
    upsert(t, Seq((1, "A")))
    upsert(t, Seq((5, "e")))
    // start at 1: version 0 is a plain write and carries no change files
    // (the reference's dryRun scenario also starts past creation, spec :58)
    val h = ChangeDataFeedHelper(spark, t.path, 1, 2)
    assert(h.dryRun() == h)
  }

  it("getAllVersionsWithCDFStatus tracks enable/disable toggles") {
    val t = cdfTable(tmpTableDir("cdf-status"))
    upsert(t, Seq((1, "A")))                                    // v1 enabled (cdc file)
    t.setProperties(Map(GraftLog.CdfProperty -> "false"))       // v2 disabled (metadata)
    upsert(t, Seq((2, "B")))                                    // v3 disabled (no cdc)
    t.setProperties(Map(GraftLog.CdfProperty -> "true"))        // v4 enabled
    upsert(t, Seq((3, "C")))                                    // v5 enabled
    val h = ChangeDataFeedHelper(spark, t.path, 0, 5)
    val status = h.getAllVersionsWithCDFStatus.toMap
    assert(status(1L) && !status(2L) && !status(3L) && status(4L) && status(5L))
    assert(h.getAllCDFEnabledVersions.contains(5L))
    assert(h.getAllCDFDisabledVersions == List(2L, 3L))
  }

  it("getRangesForCDFEnabledVersions groups consecutive versions") {
    val h = ChangeDataFeedHelper(spark, cdfTable(tmpTableDir("cdf-rng")).path, 0, 0)
    assert(h.groupVersionsInclusive(List(0L, 1L, 2L, 7L, 8L, 12L, 13L)) ==
      Some(List((0L, 2L), (7L, 8L), (12L, 13L))))
    assert(h.groupVersionsInclusive(Nil) == None)
    assert(h.groupVersionsInclusive(List(5L)) == None)
  }

  it("the two log-availability entry points differ once pre-checkpoint logs are gone") {
    // 12 commits → automatic checkpoint sidecar at version 10; then delete
    // raw log files 0..7. Versions 8..9 still have their per-version change
    // information (raw files) but NO reconstructable state (their replay
    // needs the deleted 0..7); state replay can only START at the
    // checkpoint. The raw-file view must report 8, the checkpoint-aware
    // view 10 (reference ChangeDataFeedHelper.scala:133,142 distinguishes
    // exactly these).
    val t = cdfTable(tmpTableDir("cdf-ckpt-avail"))
    (1 to 11).foreach(i => t.append(Seq((100 + i, s"x$i")).toDF("id", "name")))
    val log = new GraftLog(t.path)
    assert(log.checkpointVersions() == Seq(10L))
    (0L to 7L).foreach(v => graft.tables.Fs.deleteIfExists(log.versionFile(v)))

    val h = ChangeDataFeedHelper(spark, t.path, 0, 11)
    assert(h.checkEarliestDeltaFileBetweenVersions == Some((8L, 11L)))
    assert(h.getVersionsForAvailableDeltaLog == Some((10L, 11L)))
    // a fully-available range answers identically through both entry points
    val hOk = ChangeDataFeedHelper(spark, t.path, 10, 11)
    assert(hOk.checkEarliestDeltaFileBetweenVersions == Some((10L, 11L)))
    assert(hOk.getVersionsForAvailableDeltaLog == Some((10L, 11L)))
  }

  it("getVersionsForAvailableCDC recovers after manual change-data deletion") {
    val t = cdfTable(tmpTableDir("cdf-vac"))
    upsert(t, Seq((1, "A")))  // v1 cdc
    upsert(t, Seq((2, "B")))  // v2 cdc
    upsert(t, Seq((3, "C")))  // v3 cdc
    // simulate vacuum: delete v1's change file
    val v1cdc = t.log.actionsAt(1).collect { case c: graft.tables.AddCDCFile => c.path }
    v1cdc.foreach(p => java.nio.file.Files.delete(java.nio.file.Paths.get(t.path, p)))
    val h = ChangeDataFeedHelper(spark, t.path, 0, 3)
    assert(h.getVersionsForAvailableCDC == Some((2L, 3L)))
  }

  it("getLogVersions reports the available range for out-of-range requests") {
    val t = cdfTable(tmpTableDir("cdf-logv"))
    upsert(t, Seq((1, "A")))
    val h = ChangeDataFeedHelper(spark, t.path, 5, 9)
    assert(h.getLogVersions(true) == Some((0L, 1L)))
  }

  it("readCDFIgnoreMissingRangesForEDR unions only enabled ranges") {
    val t = cdfTable(tmpTableDir("cdf-edr"))
    upsert(t, Seq((1, "A")))                                // v1 enabled
    upsert(t, Seq((2, "B")))                                // v2 enabled
    t.setProperties(Map(GraftLog.CdfProperty -> "false"))   // v3 disabled
    upsert(t, Seq((3, "X")))                                // v4 disabled
    t.setProperties(Map(GraftLog.CdfProperty -> "true"))    // v5 enabled
    upsert(t, Seq((4, "Y")))                                // v6 enabled
    val h = ChangeDataFeedHelper(spark, t.path, 1, 6)
    val df = h.readCDFIgnoreMissingRangesForEDR
    assert(df.isDefined)
    val versions = df.get.select("_commit_version").distinct()
      .collect().map(_.getLong(0)).toSet
    // v5 is a properties-only commit: enabled, but contributes no change rows
    assert(versions == Set(1L, 2L, 6L))
  }
}
