package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.log.{ChangeDataFeedHelper, OperationMetricHelper}
import graft.operators.{GraftMerge, TableOps}
import graft.streaming.StreamingOps
import graft.tables.{GraftLog, GraftTable}

/** One operation of the ingest loop, generated from the seed. */
sealed trait IngestOp
object IngestOp {
  final case class Append(firstKey: Long, n: Int, gen: Int) extends IngestOp
  final case class Merge(keys: Seq[Long], gen: Int) extends IngestOp
  final case class Delete(lo: Long, hi: Long) extends IngestOp
  case object Drain extends IngestOp
  /** `o_orderkey` in [lo, hi) at the head: file skipping keeps a few files. */
  final case class Scan(lo: Long, hi: Long) extends IngestOp
  /** `o_orderkey` in [lo, hi) at an earlier version. */
  final case class TimeTravel(version: Int, lo: Long, hi: Long) extends IngestOp
  /** The change feed of versions start..end (inclusive). */
  final case class Cdf(start: Int, end: Int) extends IngestOp
  case object History extends IngestOp
}

/** The seeded operation sequence of `ingest_merge`. Each round appends new
  * keys, upserts a key set that favours the most recent keys, deletes a key
  * range that still holds live keys and drains the change stream; then it
  * reads: a key-range scan, a time-travel read, the round's change feed and
  * the history with its count metrics.
  */
final class IngestGen(seed: Long) {
  import IngestGen._
  import IngestOp._
  private val r = Gen.rng(seed, 0x16E57L)
  private var nextKey = BaseRows.toLong
  private var gen = 0
  private var head = BaseCommits - 1
  private val gone = new java.util.BitSet()

  def nextRound(): Seq[IngestOp] = {
    gen += 1
    val append = Append(nextKey, AppendRows, gen)
    nextKey += AppendRows
    val keys = mutable.LinkedHashSet.empty[Long]
    while (keys.size < MergeRows) {
      val u = r.nextDouble()
      val k =
        if (u < 0.1) nextKey + r.nextLong(MergeRows.toLong) // new keys: inserts
        else if (u < 0.8) nextKey - 1 - r.nextLong(RecentWindow.toLong) // recent: hot files
        else r.nextLong(nextKey) // anywhere: cold files; a fifth of the keys, so a merge touches
        // nearly every file whatever the seed, and the storage ratio does not hinge on which
      keys += k
    }
    nextKey = nextKey.max(keys.max + 1)
    keys.foreach(k => gone.clear(k.toInt))
    var lo = 0L
    do lo = r.nextLong(nextKey - DeleteKeys)
    while (gone.nextClearBit(lo.toInt) >= lo + DeleteKeys)
    gone.set(lo.toInt, (lo + DeleteKeys).toInt)
    gen += 1
    head += 3
    val span = nextKey / 50
    val scanLo = r.nextLong(nextKey - span)
    val ttLo = r.nextLong(nextKey - span)
    Seq(append, Merge(keys.toSeq, gen), Delete(lo, lo + DeleteKeys), Drain,
      Scan(scanLo, scanLo + span), TimeTravel(1 + r.nextInt(head - 1), ttLo, ttLo + span),
      Cdf(head - 2, head), History)
  }
}

object IngestGen {
  /** The fixture is built in this many commits of consecutive keys, so the
    * warm-up round ends just before a checkpoint version and the loop's
    * first commit writes a checkpoint.
    */
  val BaseCommits = 7
  val BaseRows = 10500
  val FilesPerCommit = 2
  def baseVersion(key: Long): Int = (key / (BaseRows / BaseCommits)).toInt
  val AppendRows = 500
  val MergeRows = 250
  val DeleteKeys = 50
  val RecentWindow = 1500
}

/** `ingest_merge`: the table layer under writes, then reads of what they
  * wrote. The log grows by three versions a round and crosses a checkpoint
  * every few rounds; a change-feed propagation to a downstream table is
  * drained every round.
  */
final class IngestMerge(spark: SparkSession, seed: Long) extends Workload {
  import IngestGen._
  import IngestOp._
  import Workload._

  private val schema = Gen.ordersSchema
  private val hasher = new RowHasher(schema)
  private val ops = new IngestGen(seed)
  private val ref = new Bitemporal
  private var refVersion = 0
  private var perturbed = false
  private var up: GraftTable = _
  private var downPath: String = _
  private var ckptPath: String = _
  private val failures = mutable.ArrayBuffer.empty[String]
  private val ckptWalls = mutable.ArrayBuffer.empty[Double]
  private val cdfCols = schema.fieldNames.toSeq ++ Seq("_change_type", "_commit_version")

  def table: GraftTable = up

  def prepare(): Unit = {
    val s = seed; val h = hasher
    spark.sparkContext.range(0L, BaseRows.toLong, 1L, BaseCommits)
      .map(k => (k, h(Gen.order(s, k, 0)))).collect()
      .foreach { case (k, hash) => ref.upsert(k, hash, baseVersion(k)) }
    refVersion = BaseCommits - 1
  }

  /** A create and appends of consecutive key ranges, then the empty
    * downstream table.
    */
  def build(dir: Path): Unit = {
    val s = seed
    val path = dir.resolve("orders").toString
    val per = BaseRows / BaseCommits
    (0 until BaseCommits).foreach { c =>
      val keys = spark.sparkContext.range(c.toLong * per, (c + 1L) * per, 1L, FilesPerCommit)
      val rows = spark.createDataFrame(keys.map(k => Gen.order(s, k, 0)), schema)
      if (c == 0) GraftTable.create(spark, path, rows, properties = Map(GraftLog.CdfProperty -> "true"))
      else GraftTable.forPath(spark, path).append(rows)
    }
    GraftTable.createEmpty(spark, dir.resolve("orders_downstream").toString, schema)
  }

  def open(dir: Path): Unit = {
    up = GraftTable.forPath(spark, dir.resolve("orders").toString)
    downPath = dir.resolve("orders_downstream").toString
    ckptPath = dir.resolve("propagate_checkpoint").toString
    graft.PerfbenchProbe.watchFolds(up.path)
  }

  /** One round; its drain is the initial one, which copies the whole table
    * downstream.
    */
  def warmup(): Unit = {
    val warm = new Recorder(spark, traced = false)
    ops.nextRound().foreach(exec(_, warm))
  }

  def round(r: Recorder): Unit = ops.nextRound().foreach(exec(_, r))

  def perturb(): Unit = { ref.perturb(); perturbed = true }

  private def check(what: String, got: Fingerprint, want: Fingerprint): Unit =
    if (got != want) failures += s"$what: $got, reference $want"

  private def keyPred(lo: Long, hi: Long) = s"o_orderkey >= $lo AND o_orderkey < $hi"

  private def exec(op: IngestOp, rec: Recorder): Unit = op match {
    case Append(first, n, g) =>
      val rows = (first until first + n).map(k => Gen.order(seed, k, g))
      write(rec, "append", n) {
        val df = rowsDF(spark, rows, schema)
        rec.span("tables.append")(up.append(df))
      }
      refVersion += 1
      rows.foreach(row => ref.upsert(row.getLong(0), hasher(row), refVersion))
    case Merge(keys, g) =>
      val rows = keys.map(k => Gen.order(seed, k, g))
      write(rec, "merge", rows.size) {
        val src = rowsDF(spark, rows, schema)
        rec.span("operators.merge") {
          GraftMerge(up, "t").merge(src, "t.o_orderkey = s.o_orderkey", Some("s"))
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
        }
      }
      refVersion += 1
      rows.foreach(row => ref.upsert(row.getLong(0), hasher(row), refVersion))
    case Delete(lo, hi) =>
      write(rec, "delete", 0) {
        rec.span("operators.delete")(TableOps.delete(up, Some(keyPred(lo, hi))))
      }
      refVersion += 1
      (lo until hi).foreach(k => ref.delete(k, refVersion))
    case Drain =>
      probeTables(rec, up, refVersion - 1)
      val progress = rec.op("propagate") {
        folds(rec, up, "propagate") {
          rec.span("streaming.propagate") {
            val q = StreamingOps.propagateChanges(spark, up.path, downPath, Seq("o_orderkey"),
              checkpointLocation = Some(ckptPath))
            try { q.processAllAvailable(); q.recentProgress } finally q.stop()
          }
        }
      }
      def ms(key: String) = progress.map(p => Option(p.durationMs.get(key)).map(_.toDouble).getOrElse(0.0)).sum
      rec.sample("sources.stream_latest_offset_ms", ms("latestOffset"))
      rec.sample("sources.stream_get_batch_ms", ms("getBatch"))
      rec.sample("streaming.add_batch_ms", ms("addBatch"))
      rec.sample("streaming.wal_commit_ms", ms("walCommit"))
      rec.sample("streaming.batches_per_drain", progress.count(_.numInputRows > 0).toDouble)
    case Scan(lo, hi) =>
      probeTables(rec, up, refVersion - 1)
      probeSkipping(rec, spark, up, spark.read.format("graft").load(up.path), keyPred(lo, hi))
      val fp = rec.op("scan") {
        folds(rec, up, "scan") {
          val q = spark.read.format("graft").load(up.path).filter(keyPred(lo, hi))
          rec.timed("sources.scan_plan", "sources.scan_plan_s")(q.queryExecution.executedPlan)
          rec.timed("sources.scan_exec", "sources.scan_exec_s")(Fingerprint.consume(q))
        }
      }
      check(s"scan $op", fp, ref.stateAt(refVersion, keyLo = lo, keyHi = hi))
    case TimeTravel(v, lo, hi) =>
      probeTables(rec, up, v)
      val fp = rec.op("time_travel") {
        folds(rec, up, "time_travel") {
          val df = rec.span("tables.time_travel")(up.toDFAt(v.toLong))
          rec.span("sources.scan_exec")(Fingerprint.consume(df.filter(keyPred(lo, hi))))
        }
      }
      check(s"time travel $op", fp, ref.stateAt(v, keyLo = lo, keyHi = hi))
    case Cdf(s, e) =>
      probeTables(rec, up, s)
      val fp = rec.op("cdf") {
        folds(rec, up, "cdf") {
          val df = rec.timed("log.cdf_plan", "log.cdf_plan_s")(
            ChangeDataFeedHelper(spark, up.path, s.toLong).readCDF(s, e))
          rec.timed("log.cdf_exec", "log.cdf_exec_s")(Fingerprint.consume(df, cdfCols))
        }
      }
      check(s"change feed $op", fp, ref.changes(s, e))
    case History =>
      probeTables(rec, up, refVersion - 1)
      val (hist, counts) = rec.op("history") {
        folds(rec, up, "history") {
          val h = rec.timed("log.history", "log.history_s")(up.history())
          val c = rec.timed("log.metrics", "log.metrics_s")(OperationMetricHelper(spark, up.path).getCountMetrics())
          (h, c)
        }
      }
      val entries = refVersion + (if (perturbed) 2 else 1)
      if (hist.size != entries) failures += s"history has ${hist.size} entries, the reference $entries"
      val want = ref.countsByVersion()
      counts.foreach { case (v, del, ins, upd, _) =>
        val (d0, i0, u0) = want.getOrElse(v.toInt, (0L, 0L, 0L))
        val w = (d0, if (perturbed) i0 + 1 else i0, u0)
        if ((del, ins, upd) != w) failures += s"count metrics of v$v: ${(del, ins, upd)}, reference $w"
      }
  }

  /** One write: probes before it, then the timed call; records whether its
    * commit landed on a checkpoint version and how much the directory grew.
    */
  private def write(rec: Recorder, kind: String, rows: Long)(body: => Long): Unit = {
    probeTables(rec, up, refVersion - 1)
    val before = if (rec.traced) dirBytes(up.path) else 0L
    val t0 = System.nanoTime()
    val v = rec.op(kind, rows)(folds(rec, up, kind)(body))
    val wall = (System.nanoTime() - t0) / 1e9
    if (v % GraftLog.CheckpointInterval == 0) ckptWalls += wall
    if (rec.traced) rec.sample(s"tables.bytes_written.$kind", (dirBytes(up.path) - before).toDouble)
  }

  def verify(): Seq[String] = {
    val head = up.version
    val writes = refVersion + (if (perturbed) 1 else 0)
    if (head != writes) failures += s"upstream head is v$head, the reference applied $writes writes"
    val expected = ref.stateAt(refVersion)
    check("upstream live table", Fingerprint.consume(up.toDF), expected)
    check("downstream table", Fingerprint.consume(GraftTable.forPath(spark, downPath).toDF), expected)
    failures.toSeq
  }

  def report(rec: Recorder): Seq[(String, Double, String, Int)] = {
    def walls(kinds: String*) = rec.ops.filter(o => kinds.contains(o.kind)).map(_.wallS).toSeq
    def p50(name: String, xs: Seq[Double]) = (name, Stats.median(xs), "s", xs.size)
    val writes = walls("append", "merge", "delete")
    val reads = walls("scan", "time_travel", "cdf", "history")
    val ingested = rec.ops.filter(o => Set("append", "merge")(o.kind))
    Seq(
      p50("append_s.p50", walls("append")), p50("merge_s.p50", walls("merge")),
      p50("delete_s.p50", walls("delete")),
      ("ckpt_commit_s.p50", if (ckptWalls.isEmpty) Double.NaN else Stats.median(ckptWalls.toSeq), "s", ckptWalls.size),
      ("write_s.p95", Stats.quantile(writes, 0.95), "s", writes.size),
      p50("propagate_s.p50", walls("propagate")),
      ("ingest_rows_per_s", ingested.map(_.rows).sum / walls("append", "merge", "delete", "propagate").sum,
        "1/s", ingested.size),
      p50("scan_s.p50", walls("scan")),
      ("read_s.p95", Stats.quantile(reads, 0.95), "s", reads.size),
      p50("time_travel_s.p50", walls("time_travel")), p50("cdf_s.p50", walls("cdf")),
      p50("history_s.p50", walls("history")))
  }
}
