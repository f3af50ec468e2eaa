package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.streaming.DataStreamWriter

import graft.tables.{GraftLog, GraftTable, SetTransaction, TableWriter}

/** Exactly-once Structured Streaming sink into a GraftTable.
  *
  * Spark's `foreachBatch` gives at-least-once epochs: after a failure the
  * last micro-batch is REPLAYED with the same `batchId`. Exactly-once
  * therefore needs an idempotence watermark transacted WITH the data — the
  * same protocol Delta's streaming sink uses (a `txn` action per epoch; the
  * reference library sits on top of Delta and inherits it). Each epoch here
  * commits `SetTransaction(appId, batchId)` atomically with its AddFiles;
  * a replayed epoch finds `snapshot.transactions(appId) >= batchId` and
  * skips. The check and the append race-protect each other: TableWriter
  * aborts (never blind-retries) a commit whose appId watermark was advanced
  * by a concurrent winner, so even a zombie executor re-running a committed
  * epoch cannot double-append.
  *
  * Scale: the watermark is O(1) metadata per writer; data files flow through
  * the normal distributed append path (no coalesce, no driver collect).
  */
object GraftSink {

  /** The per-epoch writer — exposed so tests (and recovery tooling) can
    * invoke an epoch replay directly. Commits `batch` (append by default;
    * overwrite for Complete-mode sinks) with the
    * `SetTransaction(appId, batchId)` watermark unless that epoch already
    * committed; returns the committed version, or None for a skipped replay.
    */
  def writeEpoch(tablePath: String, appId: String,
      mode: TableWriter.WriteMode = TableWriter.Append,
      partitionColumns: Seq[String] = Nil)(
      batch: DataFrame, batchId: Long): Option[Long] = {
    val spark = batch.sparkSession
    val snap =
      if (GraftTable.exists(tablePath)) Some(new GraftLog(tablePath).snapshot())
      else None
    if (snap.exists(_.transactions.get(appId).exists(_ >= batchId))) None
    else Some(TableWriter.write(
      spark, tablePath, batch, mode,
      partitionColumns =
        if (partitionColumns.nonEmpty) partitionColumns
        else snap.map(_.metadata.partitionColumns).getOrElse(Nil),
      operation = "STREAMING UPDATE",
      operationParameters = Map("queryId" -> appId, "epochId" -> batchId.toString),
      extraActions = Seq(SetTransaction(appId, batchId)),
      // the commit is built from the watermark read above, so every commit
      // landing after it is judged: a winner advancing OUR appId in that
      // window is a zombie instance of the same stream — abort instead of
      // double-append
      read = snap.map(Left(_))))
  }

  /** `df.writeStream` wired to the exactly-once epoch writer. `appId`
    * identifies the logical stream across restarts — reuse the same id with
    * the same checkpoint location; distinct streams writing one table need
    * distinct ids.
    */
  def writeStreamTo(df: DataFrame, tablePath: String, appId: String): DataStreamWriter[Row] =
    df.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      writeEpoch(tablePath, appId)(batch, batchId); ()
    }
}

/** The NATIVE registration of the exactly-once sink:
  * `df.writeStream.format("graft").start(path)` — the symmetric pair of the
  * `readStream.format("graft")` source, created by `GraftDataSource`'s
  * `StreamSinkProvider` binding.
  *
  * Semantics per epoch are [[GraftSink.writeEpoch]]'s: Append mode appends
  * the micro-batch, Complete mode overwrites the table with it, and either
  * way the epoch commits atomically with its `SetTransaction` watermark so
  * replays are skipped. The idempotence appId is the streaming query's id
  * (stable across restarts from one checkpoint) unless
  * `option("txnAppId", ...)` pins it explicitly — pin it when distinct
  * checkpoints must share one idempotence scope, exactly Delta's `txnAppId`
  * writer option.
  *
  * A missing table is created on the first epoch (empty, so the data commit
  * still carries its watermark atomically); `partitionBy(...)` on the writer
  * sets the new table's partitioning.
  */
class GraftStreamSink(
    tablePath: String,
    partitionColumns: Seq[String],
    outputMode: org.apache.spark.sql.streaming.OutputMode,
    explicitAppId: Option[String])
  extends org.apache.spark.sql.execution.streaming.Sink {

  import org.apache.spark.sql.graft.SparkBridge

  override def name(): String = s"GraftSink[$tablePath]"

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val spark = data.sparkSession
    val appId = explicitAppId
      .orElse(SparkBridge.streamingQueryId(spark))
      .getOrElse(throw new IllegalStateException(
        "graft sink needs an idempotence id: running outside a streaming " +
          "query, pass option(\"txnAppId\", ...)"))
    // the incoming frame is streaming-tagged (batch writes refuse it);
    // re-wrap its already-planned rows as a batch frame
    val batch = SparkBridge.batchDataFrame(spark, data.queryExecution.toRdd, data.schema)
    if (!GraftTable.exists(tablePath)) {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[Row](), data.schema)
      GraftTable.create(spark, tablePath, empty, partitionColumns)
    }
    val mode =
      if (outputMode == org.apache.spark.sql.streaming.OutputMode.Complete())
        TableWriter.Overwrite
      else TableWriter.Append
    GraftSink.writeEpoch(tablePath, appId, mode, partitionColumns)(batch, batchId)
    ()
  }
}
