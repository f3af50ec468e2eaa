package graft

import org.scalatest.funspec.AnyFunSpec

import graft.operators.TableOps
import graft.tables.{GraftLog, GraftTable}

class GraftStreamSourceSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private def mkTable(prefix: String): (String, GraftTable) = {
    val dir = tmpTableDir(prefix)
    val t = GraftTable.create(spark, dir,
      Seq((0, "alpha"), (1, "beta"), (2, "gamma")).toDF("id", "name"),
      properties = Map(GraftLog.CdfProperty -> "true"))
    (dir, t)
  }

  private def rowsOf(sink: String): Set[(Int, String, String, Long)] =
    spark.table(sink).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSet

  it("streams the snapshot, then per-commit changes, with version offsets") {
    val (dir, t) = mkTable("gss_basic")
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(rowsOf(sink) == Set(
        (0, "alpha", "insert", 0L), (1, "beta", "insert", 0L), (2, "gamma", "insert", 0L)))

      TableOps.update(t, Some("id = 1"), Map("name" -> "'BETA'")) // v1
      query.processAllAvailable()
      assert(rowsOf(sink).contains((1, "beta", "update_preimage", 1L)))
      assert(rowsOf(sink).contains((1, "BETA", "update_postimage", 1L)))

      t.append(Seq((3, "delta")).toDF("id", "name"))              // v2 blind append
      query.processAllAvailable()
      assert(rowsOf(sink).contains((3, "delta", "insert", 2L)))

      TableOps.delete(t, Some("id = 0"))                          // v3
      query.processAllAvailable()
      assert(rowsOf(sink).contains((0, "alpha", "delete", 3L)))
      assert(rowsOf(sink).size == 7)
    } finally query.stop()
  }

  it("a CDF-on REPLACE flows as delete+insert changes; CDF-off replace stays loud") {
    // CREATE OR REPLACE re-materializes the table in one commit — a
    // stream over a CDF-enabled table must see it as full change content
    // (every prior row deleted, every new row inserted), never as a gap
    val (dir, t) = mkTable("gss_replace")
    val sink = "gss_rsink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(rowsOf(sink).size == 3) // snapshot inserts @ v0
      TableOps.replaceTable(t,
        Some(Seq((7, "seven"), (8, "eight")).toDF("id", "name")),
        properties = Map(GraftLog.CdfProperty -> "true")) // v1, same schema
      query.processAllAvailable()
      val afterReplace = rowsOf(sink)
      assert(afterReplace.count(_._4 == 1L) == 5, s"got $afterReplace")
      assert(afterReplace.contains((0, "alpha", "delete", 1L)))
      assert(afterReplace.contains((1, "beta", "delete", 1L)))
      assert(afterReplace.contains((2, "gamma", "delete", 1L)))
      assert(afterReplace.contains((7, "seven", "insert", 1L)))
      assert(afterReplace.contains((8, "eight", "insert", 1L)))
    } finally query.stop()
    // CDF OFF in the replaced state: the commit removes files with no
    // change data — a default stream must FAIL loudly, not skip silently
    val (dir2, t2) = mkTable("gss_replace_off")
    val sink2 = "gss_rsink2_" + System.nanoTime()
    val q2 = spark.readStream.format("graft").load(dir2)
      .writeStream.format("memory").queryName(sink2).outputMode("append").start()
    try {
      q2.processAllAvailable()
      TableOps.replaceTable(t2, Some(Seq((9, "nine")).toDF("id", "name")))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("no change data") ||
        Option(e.getCause).exists(_.getMessage.contains("no change data")),
        e.getMessage)
    } finally q2.stop()
  }

  it("a CDF-on RESTORE flows as synthesized delete+insert changes") {
    // RESTORE's remove/re-add sets are whole files but NOT remove-all (an
    // untouched file stays live through it), so it exercises the
    // restore-specific qualification, not the full-overwrite one. The
    // commit writes no change files — the stream synthesizes them.
    val dir = tmpTableDir("gss_restore")             // v0: ONE file A = 0,1,2
    val t = GraftTable.create(spark, dir,
      Seq((0, "alpha"), (1, "beta"), (2, "gamma")).toDF("id", "name").coalesce(1),
      properties = Map(GraftLog.CdfProperty -> "true"))
    val sink = "gss_restsink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      t.append(Seq((3, "delta")).toDF("id", "name")) // v1: + file B = 3
      TableOps.delete(t, Some("id = 0"))             // v2: A → A' = 1,2
      val rv = TableOps.restore(t, 1L)               // v3: drop A', re-add A
      assert(rv == 3L)
      assert(!t.log.actionsAt(3L).exists(_.isInstanceOf[graft.tables.AddCDCFile]),
        "RESTORE must not write _change_data files")
      query.processAllAvailable()
      val out = rowsOf(sink)
      assert(out.filter(_._4 == 3L) == Set(
        (1, "beta", "delete", 3L), (2, "gamma", "delete", 3L),
        (0, "alpha", "insert", 3L), (1, "beta", "insert", 3L),
        (2, "gamma", "insert", 3L)), s"got $out")
      // the untouched file B flows through NO restore change rows
      assert(!out.exists(r => r._1 == 3 && r._4 == 3L), s"got $out")
      // the BATCH reader synthesizes the same strict-subset restore (the
      // GraftHelpersSpec restore happens to drop ALL prior files, which the
      // full-overwrite rule would catch anyway; this one needs the
      // RESTORE-specific qualification)
      val cdf = graft.log.ChangeDataFeedHelper(spark, dir, 3, 3).readCDF
        .groupBy("_change_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(cdf == Map("delete" -> 2L, "insert" -> 3L), s"batch restore CDF: $cdf")
    } finally query.stop()
  }

  it("ignoreDeletes does not swallow a RESTORE whose adds are same-path re-adds") {
    // undoing a DV delete re-ADDS the removed path (target entry, no dv):
    // dataAdds is empty, but the re-add CARRIES the returning rows — the
    // pure-delete skip must not eat them (write-time CDC used to emit
    // these inserts; synthesis must too)
    val dir = tmpTableDir("gss_ign_restore")
    val t = GraftTable.create(spark, dir,
      Seq((0, "alpha"), (1, "beta"), (2, "gamma")).toDF("id", "name").coalesce(1),
      properties = Map(GraftLog.CdfProperty -> "true",
        graft.tables.DeletionVectors.Property -> "true"))
    val sink = "gss_ignsink_" + System.nanoTime()
    val query = spark.readStream.format("graft")
      .option("ignoreDeletes", "true").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      TableOps.delete(t, Some("id = 0"))     // v1: DV mask, change files
      val rv = TableOps.restore(t, 0L)       // v2: drop (A,d1), re-add (A)
      assert(rv == 2L)
      query.processAllAvailable()
      val out = rowsOf(sink)
      // the restore's returning rows arrived as inserts (deletes too: a
      // restore is not a pure delete, so ignoreDeletes does not skip it)
      assert(out.filter(r => r._4 == 2L && r._3 == "insert").map(_._1) ==
        Set(0, 1, 2), s"got $out")
    } finally query.stop()
  }

  it("a plain SaveMode.Overwrite commit flows as synthesized delete+insert changes") {
    // complete-output-mode shape: op WRITE, remove-all + add, no change
    // files — the stream synthesizes the change content like the batch
    // reader (previously this threw even with CDF on)
    val (dir, t) = mkTable("gss_ovw")
    val sink = "gss_osink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(rowsOf(sink).size == 3) // snapshot inserts @ v0
      t.overwrite(Seq((5, "five")).toDF("id", "name"),
        operationParameters = Map("mode" -> "Overwrite")) // v1
      query.processAllAvailable()
      val after = rowsOf(sink)
      assert(after.contains((0, "alpha", "delete", 1L)))
      assert(after.contains((1, "beta", "delete", 1L)))
      assert(after.contains((2, "gamma", "delete", 1L)))
      assert(after.contains((5, "five", "insert", 1L)))
      assert(after.count(_._4 == 1L) == 4, s"got $after")
    } finally query.stop()
  }

  it("a stream over a VACUUMED replace refuses loudly (delete side not reconstructible)") {
    val (dir, t) = mkTable("gss_replace_vac")
    val vReplace = TableOps.replaceTable(t,
      Some(Seq((7, "seven")).toDF("id", "name")),
      properties = Map(GraftLog.CdfProperty -> "true"))
    t.append(Seq((8, "eight")).toDF("id", "name")) // keeps the log above horizon
    TableOps.vacuum(t, vReplace)
    val sink = "gss_rvsink_" + System.nanoTime()
    val q = spark.readStream.format("graft")
      .option("startingVersion", vReplace).load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains("vacuum"), msgs)
    } finally q.stop()
  }

  it("startingVersion replays changes from that version, no snapshot batch") {
    val (dir, t) = mkTable("gss_startv")
    TableOps.update(t, Some("id = 2"), Map("name" -> "'GAMMA'")) // v1
    t.append(Seq((9, "omega")).toDF("id", "name"))               // v2
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1).load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      assert(rowsOf(sink) == Set(
        (2, "gamma", "update_preimage", 1L),
        (2, "GAMMA", "update_postimage", 1L),
        (9, "omega", "insert", 2L)))
    } finally query.stop()
  }

  it("recovers from a checkpoint at a version boundary (offset round-trip)") {
    val (dir, t) = mkTable("gss_ckpt")
    val ckpt = java.nio.file.Files.createTempDirectory("gss_ckpt_loc").toString
    // foreachBatch (checkpoint-recoverable, unlike the memory sink)
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, String, String, Long)]())
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          got.add((r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))); ()
      }.start()

    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop() // consumed snapshot @ v0
    assert(got.size == 3)
    got.clear()

    TableOps.update(t, Some("id = 0"), Map("name" -> "'ALPHA'")) // v1, while down

    val q2 = start()
    try {
      q2.processAllAvailable()
      // ONLY the post-checkpoint commit arrives — the deserialized offset
      // resumed at v0, no snapshot replay, no duplicates
      import scala.jdk.CollectionConverters._
      assert(got.asScala.toSet == Set(
        (0, "alpha", "update_preimage", 1L),
        (0, "ALPHA", "update_postimage", 1L)))
    } finally q2.stop()
  }

  it("fails loudly when the commit log was cleaned past the stream's checkpoint") {
    val (dir, t) = mkTable("gss_cleaned")
    val ckpt = java.nio.file.Files.createTempDirectory("gss_cleaned_loc").toString
    def start() = spark.readStream.format("graft").load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect(); ()
      }.start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop() // checkpoint at v0

    // while the stream is down: commits land AND the log is cleaned past them
    TableOps.update(t, Some("id = 0"), Map("name" -> "'A1'"))   // v1
    TableOps.update(t, Some("id = 1"), Map("name" -> "'B1'"))   // v2
    TableOps.cleanupMetadata(GraftTable.forPath(spark, dir), 2) // expire v0, v1

    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    try {
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("cleaned past this stream's checkpoint")),
        s"wrong failure: ${messages(e).mkString(" | ")}")
    } finally q2.stop()
  }

  it("refuses to emit an APPEND vacuum-horizon rewrite as a change batch") {
    val (dir, t) = mkTable("gss_horizon")
    val ckpt = java.nio.file.Files.createTempDirectory("gss_horizon_loc").toString
    TableOps.update(t, Some("id = 0"), Map("name" -> "'A1'")) // v1 (cdc)
    GraftTable.forPath(spark, dir).append(
      Seq((50, "fifty")).toDF("id", "name"))                  // v2: blind append, NO cdc
    // one version per batch so the restart's replayed batch is (1 → 2]
    def start() = spark.readStream.format("graft")
      .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect(); ()
      }.start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop() // consumed through v2

    GraftTable.forPath(spark, dir).append(
      Seq((90, "ninety")).toDF("id", "name"))                 // v3
    // vacuum to v2: v2's log becomes a snapshot REWRITE holding ALL live
    // files; its original change content (the one appended row) is gone —
    // the restart replaying (1 → 2] must fail, not re-deliver the table
    TableOps.vacuum(GraftTable.forPath(spark, dir), retainVersion = 2L)

    val q2 = start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    try {
      def messages(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
      assert(messages(e).exists(_.contains("vacuum-horizon rewrite")),
        s"wrong failure: ${messages(e).mkString(" | ")}")
    } finally q2.stop()
  }

  it("a CDC-covered vacuum-horizon version still replays its ORIGINAL changes") {
    val (dir, t) = mkTable("gss_horizon_cdc")
    val ckpt = java.nio.file.Files.createTempDirectory("gss_horizon_cdc_loc").toString
    TableOps.update(t, Some("id = 0"), Map("name" -> "'A1'")) // v1 (cdc preserved by rewrite)
    val got = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Int, String, String)]())
    def start() = spark.readStream.format("graft")
      .option("startingVersion", "0").option("maxVersionsPerTrigger", "1")
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach(r =>
          got.add((r.getInt(0), r.getString(1), r.getString(2)))); ()
      }.start()
    val q1 = start()
    try { q1.processAllAvailable() } finally q1.stop() // consumed through v1
    got.clear()

    TableOps.vacuum(GraftTable.forPath(spark, dir), retainVersion = 1L)
    GraftTable.forPath(spark, dir).append(Seq((90, "ninety")).toDF("id", "name")) // v2

    val q2 = start()
    try {
      q2.processAllAvailable()
      import scala.jdk.CollectionConverters._
      // the replayed (0 → 1] batch re-emits v1's ORIGINAL cdc rows (exact
      // replay, no whole-table duplication), then v2's append arrives
      val rows = got.asScala.toSet
      assert(rows.contains((90, "ninety", "insert")), s"missed the live append: $rows")
      assert(!rows.exists(r => r._1 == 1 && r._3 == "insert"),
        s"whole-table duplication leaked through the horizon: $rows")
    } finally q2.stop()
  }

  it("composes with GraftSink: table-to-table streaming replication, exactly once") {
    // the full streaming story end-to-end: change-data SOURCE on table A →
    // filter to inserts → exactly-once SINK into table B; B converges to
    // A's inserted rows across multiple live commits and never duplicates
    val (dirA, tA) = mkTable("gss_repl_src")
    val dirB = tmpTableDir("gss_repl_dst")
    GraftTable.create(spark, dirB,
      Seq.empty[(Int, String)].toDF("id", "name"))
    val query = graft.streaming.GraftSink.writeStreamTo(
      spark.readStream.format("graft").load(dirA)
        .filter($"_change_type" === "insert")
        .select($"id", $"name"),
      dirB, "replicator")
      .start()
    try {
      query.processAllAvailable()
      tA.append(Seq((10, "ten")).toDF("id", "name"))
      query.processAllAvailable()
      tA.append(Seq((11, "eleven")).toDF("id", "name"))
      query.processAllAvailable()
    } finally query.stop()

    val replicated = GraftTable.forPath(spark, dirB).toDF
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(replicated.size == 5, s"exactly-once violated: $replicated")
    assert(replicated.toSet == Set(
      (0, "alpha"), (1, "beta"), (2, "gamma"), (10, "ten"), (11, "eleven")))
    // the sink's watermark tracked the epochs
    assert(GraftTable.forPath(spark, dirB).txnVersion("replicator").nonEmpty)
  }

  it("replays a schema-evolving history: pre-evolution rows widen to typed nulls") {
    val (dir, t) = mkTable("gss_evolve")
    t.append(Seq((5, "v1row")).toDF("id", "name"))                        // v1 (old schema)
    t.append(Seq((6, "v2row", 42L)).toDF("id", "name", "extra"))          // v2 adds column
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1).load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      val rows = spark.table(sink).collect()
        .map(r => (r.getInt(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getString(3), r.getLong(4))).toSet
      assert(rows == Set(
        (5, "v1row", None, "insert", 1L),      // pre-evolution: extra is null
        (6, "v2row", Some(42L), "insert", 2L)))
    } finally query.stop()
  }

  it("skips layout-only OPTIMIZE commits instead of failing") {
    val (dir, t) = mkTable("gss_optimize")
    t.append(Seq((7, "eta")).toDF("id", "name")) // v1, second file
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      val before = rowsOf(sink)
      TableOps.compact(t)                                          // v2: adds+removes, NO cdc
      TableOps.update(t, Some("id = 7"), Map("name" -> "'ETA'"))   // v3
      query.processAllAvailable()
      // the compaction contributed nothing; the update still streams
      assert(rowsOf(sink) == before ++ Set(
        (7, "eta", "update_preimage", 3L), (7, "ETA", "update_postimage", 3L)))
    } finally query.stop()
  }

  it("catches up over a 40-commit backlog in one micro-batch") {
    // a stream starting far behind must swallow the whole backlog in one
    // getBatch (the per-version union plan has to stay analyzable well past
    // typical trigger gaps)
    val (dir, t) = mkTable("gss_backlog")
    (0 until 40).foreach(i => t.append(Seq((100 + i, s"r$i")).toDF("id", "name")))
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1).load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      val rows = spark.table(sink).collect()
      assert(rows.length == 40, s"expected the full backlog, got ${rows.length}")
      assert(spark.table(sink).agg(org.apache.spark.sql.functions.countDistinct($"_commit_version"))
        .head().getLong(0) == 40)
      // the batch reads its 40 appends in ONE stamped scan, not one union
      // branch per version: its RDD lineage holds at most 2 file scans
      val batchRdd = query.asInstanceOf[
        org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan
        .collectFirst { case r: org.apache.spark.sql.execution.RDDScanExec => r.rdd }
        .getOrElse(fail("no source RDD in the last batch's plan"))
      def lineage(r: org.apache.spark.rdd.RDD[_]): Seq[org.apache.spark.rdd.RDD[_]] =
        r +: r.dependencies.flatMap(d => lineage(d.rdd))
      val scans = lineage(batchRdd)
        .count(_.isInstanceOf[org.apache.spark.sql.execution.datasources.FileScanRDD])
      assert(scans >= 1 && scans <= 2, s"expected <=2 FileScanRDDs for 40 versions, got $scans")
    } finally query.stop()
  }

  it("a REPARTITION is layout-only: no error and no rows, in the stream and the batch feed") {
    // re-partitioning rewrites every file as a whole-file overwrite and
    // records no change files — like OPTIMIZE it leaves every row as it
    // was, so a CDF-on stream must neither die ("wrote no change data") nor
    // emit rows for it
    val (dir, t) = mkTable("gss_repartition")
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable()
      val before = rowsOf(sink)
      val vRep = TableOps.repartitionTable(t, Seq("name"))              // v1
      GraftTable.forPath(spark, dir).append(Seq((3, "delta")).toDF("id", "name")) // v2
      query.processAllAvailable()
      assert(rowsOf(sink) == before + ((3, "delta", "insert", vRep + 1)),
        s"got ${rowsOf(sink)}")
      val batch = graft.log.ChangeDataFeedHelper(spark, dir, vRep, vRep + 1).readCDF
        .select($"id", $"_change_type", $"_commit_version").as[(Int, String, Long)].collect()
      assert(batch.toSeq == Seq((3, "insert", vRep + 1)), batch.toSeq.toString)
    } finally query.stop()
  }

  it("the trigger budget charges the change files a full-file delete streams under ignoreDeletes") {
    // with the change columns on, ignoreDeletes does not skip a CDF-on
    // full-file DELETE — its change files stream — so maxFilesPerTrigger
    // must charge them: one file per trigger puts v1 and v2 in two batches
    val dir = tmpTableDir("gss_ign_budget")
    val t = GraftTable.create(spark, dir, Seq((0, "seed")).toDF("id", "name").coalesce(1),
      properties = Map(GraftLog.CdfProperty -> "true"))
    TableOps.delete(t, Some("id = 0"))                                  // v1: whole-file remove
    assert(!t.log.actionsAt(1L).exists(_.isInstanceOf[graft.tables.AddFile]) &&
      t.log.actionsAt(1L).exists(_.isInstanceOf[graft.tables.AddCDCFile]),
      "fixture must be a remove-only delete with change files")
    GraftTable.forPath(spark, dir).append(Seq((1, "a")).toDF("id", "name")) // v2
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Seq[(Int, String, Long)]]())
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1)
      .option("ignoreDeletes", "true")
      .option("maxFilesPerTrigger", 1)
      .load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(batch.select($"id", $"_change_type", $"_commit_version")
          .as[(Int, String, Long)].collect().toSeq); ()
      }.start()
    try query.processAllAvailable() finally query.stop()
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty).toSeq
    assert(nonEmpty == Seq(Seq((0, "delete", 1L)), Seq((1, "insert", 2L))), s"got $nonEmpty")
  }

  it("bounds catch-up batches to maxVersionsPerTrigger versions each") {
    // the same 40-commit backlog, but with an 8-version admission bound:
    // the stream must drain it COMPLETELY (no rows lost) across ≥5
    // micro-batches, none spanning more than 8 versions — the scale guard
    // that keeps a 10k-commit gap from becoming one unbounded union plan
    val (dir, t) = mkTable("gss_bounded")
    (0 until 40).foreach(i => t.append(Seq((100 + i, s"r$i")).toDF("id", "name")))
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Set[Long]]())
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1)
      .option("maxVersionsPerTrigger", 8)
      .load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(batch.select($"_commit_version").collect().map(_.getLong(0)).toSet); ()
      }.start()
    try query.processAllAvailable() finally query.stop()
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty)
    assert(nonEmpty.map(_.size).sum == 40, s"lost rows: $nonEmpty")
    assert(nonEmpty.flatten.toSet == (1L to 40L).toSet)
    assert(nonEmpty.size >= 5, s"expected >=5 bounded batches, got ${nonEmpty.size}")
    nonEmpty.foreach { vs =>
      assert(vs.max - vs.min < 8, s"batch spans more than 8 versions: $vs")
    }
  }

  it("Trigger.AvailableNow drains the whole backlog in bounded batches, then stops") {
    // the batch-job-over-a-stream mode (nightly catch-up): AvailableNow
    // must honor the admission bound per micro-batch AND terminate on its
    // own once every pending version is consumed — Spark's wrapper pins
    // the end offset at start and replays through getOffset, so this
    // exercises the same pacing path as a live stream
    val (dir, t) = mkTable("gss_avnow")
    (0 until 10).foreach(i => t.append(Seq((300 + i, s"a$i")).toDF("id", "name")))
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Set[Long]]())
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1)
      .option("maxVersionsPerTrigger", 3)
      .load(dir)
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(batch.select($"_commit_version").collect().map(_.getLong(0)).toSet); ()
      }.start()
    assert(query.awaitTermination(120000), "AvailableNow query did not self-terminate")
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty)
    assert(nonEmpty.flatten.toSet == (1L to 10L).toSet, s"lost versions: $nonEmpty")
    assert(nonEmpty.size >= 4, s"expected >=4 bounded batches, got ${nonEmpty.size}")
    nonEmpty.foreach(vs => assert(vs.size <= 3, s"batch over admission bound: $vs"))
  }

  it("bounds catch-up batches by maxBytesPerTrigger, one oversized commit never stalls") {
    // 10 appended versions; a byte budget of 1 forces ONE version per batch
    // (the first pending version is always admitted even over budget)
    val (dir, t) = mkTable("gss_bytes")
    (0 until 10).foreach(i => t.append(Seq((200 + i, s"b$i")).toDF("id", "name")))
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Set[Long]]())
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1)
      .option("maxBytesPerTrigger", 1)
      .load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(batch.select($"_commit_version").collect().map(_.getLong(0)).toSet); ()
      }.start()
    try query.processAllAvailable() finally query.stop()
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty)
    assert(nonEmpty.flatten.toSet == (1L to 10L).toSet, s"lost versions: $nonEmpty")
    assert(nonEmpty.forall(_.size == 1), s"budget of 1 byte must admit one version per batch: $nonEmpty")
  }

  it("ignoreDeletes and skipChangeCommits skip what they claim, defaults stay loud") {
    import org.apache.spark.sql.functions.col
    def run(dir: String, opts: Map[String, String]): Either[String, Seq[Long]] = {
      val batches = java.util.Collections.synchronizedList(
        new java.util.ArrayList[Set[Long]]())
      val reader = opts.foldLeft(
        spark.readStream.format("graft").option("startingVersion", 1)) {
        case (r, (k, v)) => r.option(k, v)
      }
      val q = reader.load(dir).writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          batches.add(b.select(col("_commit_version")).collect().map(_.getLong(0)).toSet); ()
        }.start()
      try { q.processAllAvailable(); import scala.jdk.CollectionConverters._
        Right(batches.asScala.toSeq.flatten.sorted) }
      catch { case e: Exception => Left(graft.Causes.messages(e).mkString("|")) }
      finally q.stop()
    }
    // CDF OFF: v1 append, v2 pure DELETE, v3 append, v4 UPDATE rewrite, v5 append
    val dir = tmpTableDir("gss_skipopts")
    val t = GraftTable.create(spark, dir, Seq((0, "seed")).toDF("id", "name"))
    t.append(Seq((1, "a")).toDF("id", "name"))                                // v1
    graft.operators.TableOps.delete(t, Some("id = 0"))                        // v2
    t.append(Seq((2, "b")).toDF("id", "name"))                                // v3
    graft.operators.TableOps.update(t, Some("id = 2"), Map("name" -> "'B'"))  // v4
    t.append(Seq((3, "c")).toDF("id", "name"))                                // v5

    val loud = run(dir, Map.empty)
    assert(loud.isLeft && loud.left.exists(_.contains("ignoreDeletes")),
      s"default must fail on the delete commit: $loud")
    val ign = run(dir, Map("ignoreDeletes" -> "true"))
    assert(ign.isLeft, s"ignoreDeletes must still fail on the UPDATE rewrite: $ign")
    val skip = run(dir, Map("skipChangeCommits" -> "true"))
    assert(skip.isRight, s"skipChangeCommits must drain: $skip")
    // only the append commits' rows arrive
    val versions = skip.toOption.get
    assert(versions.nonEmpty && versions.toSet.size >= 3,
      s"append commits missing from the skipped stream: $versions")

    // positive ignoreDeletes: a FULL-file delete (no surviving rows in the
    // touched file → zero-record output dropped from the commit) is skipped
    val dir2 = tmpTableDir("gss_puredelete")
    val p = GraftTable.create(spark, dir2, Seq((0, "seed")).toDF("id", "name"))
    p.append(Seq((1, "a"), (2, "b")).toDF("id", "name").repartition(1)) // v1: own file
    graft.operators.TableOps.delete(p, Some("id >= 1 AND id <= 2"))     // v2: pure remove
    p.append(Seq((3, "c")).toDF("id", "name"))                          // v3
    val pure = run(dir2, Map("ignoreDeletes" -> "true"))
    assert(pure == Right(Seq(1L, 3L)), s"pure delete must be skipped: $pure")
  }

  it("bounds catch-up batches by maxFilesPerTrigger") {
    // 8 appended versions of 2 files each; a 3-file budget admits two
    // versions per batch (2 files < 3 → admit next; 4 ≥ 3 → stop)
    val (dir, t) = mkTable("gss_files")
    (0 until 8).foreach(i =>
      t.append(Seq((400 + i, s"f$i"), (500 + i, s"g$i")).toDF("id", "name")
        .repartitionByRange(2, org.apache.spark.sql.functions.col("id"))))
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Set[Long]]())
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1)
      .option("maxFilesPerTrigger", 3)
      .load(dir)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(batch.select($"_commit_version").collect().map(_.getLong(0)).toSet); ()
      }.start()
    try query.processAllAvailable() finally query.stop()
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty)
    assert(nonEmpty.flatten.toSet == (1L to 8L).toSet, s"lost versions: $nonEmpty")
    assert(nonEmpty.forall(_.size <= 2), s"3-file budget must cap at two 2-file versions: $nonEmpty")
    assert(nonEmpty.size >= 4, s"expected >=4 bounded batches, got $nonEmpty")
  }

  it("never re-emits committed versions after a restart beyond the trigger budget") {
    // regression: a restarted source sees getOffset BEFORE any getBatch, so
    // without the persisted watermark a budget counted from startingVersion
    // would offer min(head, startingVersion-1+budget) — BELOW the committed
    // offset once the stream has progressed further than one budget's worth.
    // Spark would then walk the offset back up, replaying delivered versions.
    val (dir, t) = mkTable("gss_restart")
    (0 until 12).foreach(i => t.append(Seq((300 + i, s"v$i")).toDF("id", "name"))) // v1..v12
    val ckpt = java.nio.file.Files.createTempDirectory("gss_restart_ckpt").toString
    val batches = java.util.Collections.synchronizedList(
      new java.util.ArrayList[Set[Long]]())
    def got: Seq[Long] = {
      import scala.jdk.CollectionConverters._
      batches.asScala.toSeq.flatten.sorted
    }
    def start() = spark.readStream.format("graft")
      .option("startingVersion", 1)
      .option("maxVersionsPerTrigger", 5)
      .load(dir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.add(batch.select($"_commit_version").collect().map(_.getLong(0)).toSet); ()
      }.start()

    val q1 = start()
    try q1.processAllAvailable() finally q1.stop() // drains v1..v12 in >=3 batches
    assert(got == (1L to 12L), s"first run mis-drained: $got")
    batches.clear()

    // restart with NOTHING new: committed offset (12) is far beyond
    // startingVersion-1+5 — a budget-from-startingVersion first offer would
    // regress and replay
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(got.isEmpty, s"restart re-emitted versions: $got")
    batches.clear()

    // restart after a >budget backlog accrued while down: exactly the new
    // versions, once each — and STILL in budgeted batches (the persisted
    // watermark keeps the bound without regressing)
    (0 until 12).foreach(i => t.append(Seq((400 + i, s"n$i")).toDF("id", "name"))) // v13..v24
    val q3 = start()
    try q3.processAllAvailable() finally q3.stop()
    assert(got == (13L to 24L), s"restart catch-up wrong: $got")
    import scala.jdk.CollectionConverters._
    val nonEmpty = batches.asScala.filter(_.nonEmpty)
    assert(nonEmpty.size >= 3, s"expected >=3 budgeted catch-up batches, got $nonEmpty")
    nonEmpty.foreach(vs => assert(vs.max - vs.min < 5, s"batch over budget: $vs"))
  }

  it("fails loudly when the table schema evolves mid-stream") {
    // the stream schema is pinned at source creation; a column added by a
    // later commit cannot surface without a restart — dropping it silently
    // would lose data, so the query must die with a restart hint
    val (dir, t) = mkTable("gss_midevolve")
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable() // snapshot, old schema
      t.append(Seq((8, "theta", 7L)).toDF("id", "name", "extra")) // widens schema
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("changed mid-stream")), msgs(e).mkString("; "))
    } finally query.stop()
  }

  it("startingTimestamp resolves to the first commit at-or-after it") {
    val (dir, t) = mkTable("gss_startts")
    t.append(Seq((10, "v1")).toDF("id", "name")) // v1
    t.append(Seq((20, "v2")).toDF("id", "name")) // v2
    t.append(Seq((30, "v3")).toDF("id", "name")) // v3
    // clock-controlled history: v0..v3 at 100/80/60/40 hours ago
    Seq(0L -> 100, 1L -> 80, 2L -> 60, 3L -> 40).foreach { case (v, h) =>
      val ts = System.currentTimeMillis() - h * 3600L * 1000
      t.log.rewriteVersion(v, t.log.actionsAt(v).map {
        case ci: graft.tables.CommitInfo => ci.copy(timestamp = ts)
        case other                       => other
      })
    }
    // 70 hours ago falls between v1 and v2 → stream replays from v2
    val startIso = java.time.Instant
      .ofEpochMilli(System.currentTimeMillis() - 70L * 3600 * 1000).toString
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft")
      .option("startingTimestamp", startIso).load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val versions = spark.table(sink).select($"_commit_version")
      .collect().map(_.getLong(0)).toSet
    assert(versions == Set(2L, 3L), versions.toString)

    // both bounds at once is ambiguous and rejected (source creation runs on
    // the stream thread, so the failure surfaces on processAllAvailable)
    val e = intercept[Exception] {
      val q2 = spark.readStream.format("graft")
        .option("startingVersion", 1).option("startingTimestamp", startIso)
        .load(dir)
        .writeStream.format("memory").queryName(sink + "x").outputMode("append").start()
      try q2.processAllAvailable() finally q2.stop()
    }
    def msgs(x: Throwable): Seq[String] =
      Option(x).toSeq.flatMap(y => Option(y.getMessage).toSeq ++ msgs(y.getCause))
    assert(msgs(e).exists(_.contains("not both")), msgs(e).mkString("; "))
  }

  it("persists the offer watermark atomically (no torn marker, no temp debris)") {
    // the marker is written temp-file + rename so a crash mid-write leaves
    // the PREVIOUS marker readable; after several advancing offers exactly
    // one marker file must exist, parseable, with no .tmp leftovers
    val (dir, t) = mkTable("gss_wm_atomic")
    val ckpt = tmpTableDir("gss_wm_ckpt")
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    try {
      query.processAllAvailable()
      t.append(Seq((21, "u")).toDF("id", "name"))
      query.processAllAvailable()
      t.append(Seq((22, "v")).toDF("id", "name"))
      query.processAllAvailable()
    } finally query.stop()
    val sources = new java.io.File(ckpt, "sources/0")
    val listed = Option(sources.listFiles()).map(_.toSeq).getOrElse(Nil)
    val markers = listed.filter(_.getName == "graft-offer-watermark")
    assert(markers.size == 1, s"marker files: ${listed.map(_.getName)}")
    val text = new String(
      java.nio.file.Files.readAllBytes(markers.head.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim
    assert(text.toLong == t.version, s"marker=$text version=${t.version}")
    assert(!listed.exists(_.getName.endsWith(".tmp")),
      s"temp debris left behind: ${listed.map(_.getName)}")
  }

  it("agrees with the batch CDF reader over a mixed commit history") {
    // the streaming source and the batch CDF reader are two policies over
    // one change-feed planner; with no skipping option set they keep the
    // same commits, so they must produce the same (row, _change_type,
    // _commit_version) multiset over the same version range
    val (dir, t) = mkTable("gss_xval")
    t.append(Seq((10, "ten"), (11, "eleven")).toDF("id", "name"))  // v1 insert
    TableOps.update(t, Some("id = 10"), Map("name" -> "'TEN'"))    // v2 update
    TableOps.delete(t, Some("id = 1"))                             // v3 delete
    TableOps.compact(t)                                            // v4 layout-only
    t.append(Seq((12, "twelve")).toDF("id", "name"))               // v5 insert

    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft")
      .option("startingVersion", 1).load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try query.processAllAvailable() finally query.stop()
    val streamed = spark.table(sink)
      .select($"id", $"name", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(identity).view.mapValues(_.size).toMap

    val batch = new graft.log.ChangeDataFeedHelper(spark, dir, 1L, t.version).readCDF
      .select($"id", $"name", $"_change_type", $"_commit_version")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
      .groupBy(identity).view.mapValues(_.size).toMap

    assert(streamed == batch, s"stream=$streamed\nbatch=$batch")
    assert(streamed.nonEmpty)
  }

  it("fails loudly on a row-removing commit without change data") {
    val dir = tmpTableDir("gss_nocdf")
    val t = GraftTable.create(spark, dir,
      Seq((0, "a"), (1, "b")).toDF("id", "name")) // CDF OFF
    val sink = "gss_sink_" + System.nanoTime()
    val query = spark.readStream.format("graft").load(dir)
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try {
      query.processAllAvailable() // snapshot fine
      TableOps.delete(t, Some("id = 0"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      assert(e.getMessage.contains("enable CDF") ||
        Option(e.getCause).exists(_.getMessage.contains("enable CDF")))
    } finally query.stop()
  }
}
