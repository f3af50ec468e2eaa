package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funspec.AnyFunSpec

import graft.streaming.GraftSink
import graft.tables.{GraftLog, GraftTable, SetTransaction}

class GraftSinkSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  it("streams micro-batches into a GraftTable exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpTableDir("sink_stream")
    GraftTable.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))

    val input = MemoryStream[(Long, String)]
    val query = GraftSink
      .writeStreamTo(input.toDF().toDF("id", "v"), dir, "appA")
      .start()
    try {
      input.addData((1L, "a"), (2L, "b")); query.processAllAvailable()
      input.addData((3L, "c")); query.processAllAvailable()
    } finally query.stop()

    val t = GraftTable.forPath(spark, dir)
    assert(t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((0L, "seed"), (1L, "a"), (2L, "b"), (3L, "c")))
    // the watermark tracks the last epoch
    assert(t.txnVersion("appA").contains(1L))
    assert(t.txnVersion("ghost").isEmpty)
  }

  it("a replayed epoch is skipped, not re-appended") {
    val dir = tmpTableDir("sink_replay")
    GraftTable.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    val epoch = Seq((1L, "a"), (2L, "b")).toDF("id", "v")

    assert(GraftSink.writeEpoch(dir, "appA")(epoch, 0L).isDefined)
    // post-failure foreachBatch replay: same batchId arrives again
    assert(GraftSink.writeEpoch(dir, "appA")(epoch, 0L).isEmpty)
    // an older epoch from a rewound zombie is also skipped
    assert(GraftSink.writeEpoch(dir, "appA")(epoch, -1L).isEmpty)
    // a DIFFERENT stream's epoch 0 is independent
    assert(GraftSink.writeEpoch(dir, "appB")(Seq((9L, "z")).toDF("id", "v"), 0L).isDefined)

    val rows = GraftTable.forPath(spark, dir).toDF
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 4, s"exactly-once violated: $rows")
    assert(rows.toSet == Set((0L, "seed"), (1L, "a"), (2L, "b"), (9L, "z")))
  }

  it("watermarks survive checkpoint replay and vacuum horizon rewrite") {
    val dir = tmpTableDir("sink_vacuum")
    GraftTable.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    val log = new GraftLog(dir)
    // enough epochs to cross a checkpoint-interval boundary
    (0 until GraftLog.CheckpointInterval + 2).foreach { i =>
      GraftSink.writeEpoch(dir, "appA")(Seq((100L + i, s"e$i")).toDF("id", "v"), i.toLong)
    }
    assert(log.checkpointVersions().nonEmpty)
    // snapshot built FROM the checkpoint still carries the watermark
    val snap = log.snapshot()
    assert(snap.transactions("appA") == GraftLog.CheckpointInterval + 1L)

    // vacuum to the latest version: the horizon rewrite must keep the txn
    val t = GraftTable.forPath(spark, dir)
    graft.operators.TableOps.vacuum(t, t.version)
    assert(GraftTable.forPath(spark, dir).txnVersion("appA")
      .contains(GraftLog.CheckpointInterval + 1L))
    // and a replay of the last epoch after vacuum is still skipped
    assert(GraftSink.writeEpoch(dir, "appA")(
      Seq((999L, "dup")).toDF("id", "v"), GraftLog.CheckpointInterval + 1L).isEmpty)
  }

  it("writeStream.format(\"graft\") is the native exactly-once sink") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpTableDir("sink_native")
    val ckpt = java.nio.file.Files.createTempDirectory("sink_native_ckpt").toString
    val input = MemoryStream[(Long, String)]
    def start() = input.toDF().toDF("id", "v")
      .writeStream.format("graft")
      .option("checkpointLocation", ckpt)
      .option("txnAppId", "nativeA")
      .start(dir)

    val q1 = start()
    try {
      input.addData((1L, "a"), (2L, "b")); q1.processAllAvailable()
      input.addData((3L, "c")); q1.processAllAvailable()
    } finally q1.stop()
    // the sink CREATED the table on the first epoch
    val t = GraftTable.forPath(spark, dir)
    assert(t.toDF.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))

    // restart from the same checkpoint: data added while down arrives once
    input.addData((4L, "d"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = GraftTable.forPath(spark, dir).toDF
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(rows.size == 4, s"exactly-once violated across restart: $rows")

    // a replay of the last committed epoch through the same appId is skipped
    val lastEpoch = GraftTable.forPath(spark, dir).txnVersion("nativeA").get
    assert(GraftSink.writeEpoch(dir, "nativeA")(
      Seq((99L, "dup")).toDF("id", "v"), lastEpoch).isEmpty)
  }

  it("native sink Complete mode overwrites the table each epoch") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tmpTableDir("sink_complete")
    val input = MemoryStream[(Long, Long)]
    // a running aggregation is what Complete mode exists for
    val agg = input.toDF().toDF("k", "x")
      .groupBy($"k").agg(org.apache.spark.sql.functions.sum($"x").as("total"))
    val query = agg.writeStream.format("graft")
      .outputMode("complete")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("sink_complete_ckpt").toString)
      .option("txnAppId", "completeA")
      .start(dir)
    try {
      input.addData((1L, 10L), (2L, 20L)); query.processAllAvailable()
      input.addData((1L, 5L)); query.processAllAvailable()
    } finally query.stop()
    // the table holds ONLY the final aggregate state (each epoch overwrote)
    assert(GraftTable.forPath(spark, dir).toDF
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 15L), (2L, 20L)))
  }

  it("txn replay is last-wins: an explicit lower SetTransaction rewinds the watermark") {
    // Delta's log replay keeps the LAST txn action per appId, not the max —
    // a writer that restarts from a fresh checkpoint dir reusing its appId
    // can legitimately rewind. The SINK's monotonicity is its own gating
    // (writeEpoch checks >= before committing), not a log-level invariant.
    val dir = tmpTableDir("sink_lastwins")
    GraftTable.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    val log = new GraftLog(dir)
    def setTxn(v: Long): Unit = log.commit(log.latestVersion() + 1, Seq(
      SetTransaction("appA", v),
      graft.tables.CommitInfo(System.currentTimeMillis(), "SET TXN")))
    setTxn(10L)
    setTxn(3L) // rewind: last-wins must surface 3, not 10
    assert(GraftTable.forPath(spark, dir).txnVersion("appA").contains(3L))
    // after the rewind, epochs 4.. land again through the sink
    assert(GraftSink.writeEpoch(dir, "appA")(Seq((4L, "e4")).toDF("id", "v"), 4L).isDefined)
  }

  it("a zombie racing the same appId aborts instead of double-appending") {
    val dir = tmpTableDir("sink_zombie")
    GraftTable.create(spark, dir, Seq((0L, "seed")).toDF("id", "v"))
    val log = new GraftLog(dir)
    // simulate the zombie window: the zombie read the watermark (none for
    // epoch 1) at version v0, then the healthy instance committed epoch 1 —
    // the zombie's commit lands later at a FRESH version number (no version
    // collision!), so only read-version validation can catch it
    val read = log.snapshot()
    val v0 = read.version
    log.commit(v0 + 1, Seq(
      SetTransaction("appA", 1L),
      graft.tables.CommitInfo(System.currentTimeMillis(), "STREAMING UPDATE")))
    val e = intercept[java.util.ConcurrentModificationException] {
      graft.tables.TableWriter.write(
        spark, dir, Seq((1L, "dup")).toDF("id", "v"), graft.tables.TableWriter.Append,
        operation = "STREAMING UPDATE",
        extraActions = Seq(SetTransaction("appA", 1L)),
        read = Some(Left(read)))
    }
    // the abort names the watermark's appId and the winning version
    assert(e.getMessage.contains("appId appA") &&
      e.getMessage.contains(s"version ${v0 + 1}"), e.getMessage)
    // an unrelated appId racing the same window is fine (blind append)
    graft.tables.TableWriter.write(
      spark, dir, Seq((7L, "ok")).toDF("id", "v"), graft.tables.TableWriter.Append,
      operation = "STREAMING UPDATE",
      extraActions = Seq(SetTransaction("appB", 0L)),
      read = Some(Left(read)))
    val rows = GraftTable.forPath(spark, dir).toDF
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows == Set((0L, "seed"), (7L, "ok")))
  }
}
