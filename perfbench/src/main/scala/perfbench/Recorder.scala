package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Times the closed loop's operations and, in a traced run, keeps spans and
  * per-operation Spark counters in memory.
  *
  * A span is recorded only around a call into one of the library's layers,
  * from the benchmark's own code; its name is `<layer>.<what>`. Spark jobs
  * and stages are attributed to the operation whose wall interval contains
  * the job's start (the loop has one client, so at most one operation runs
  * at a time).
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  import Recorder._

  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var stack: List[Int] = Nil
  private var currentOp = -1

  private val listener = new JobListener
  if (traced) spark.sparkContext.addSparkListener(listener)

  /** Runs one closed-loop operation and records its wall time and the CPU
    * time the whole JVM spent meanwhile.
    */
  def op[T](kind: String, rows: Long = 0L)(body: => T): T = {
    val id = ops.size
    currentOp = id
    val c0 = processCpuNs; val t0 = System.nanoTime(); val ms0 = System.currentTimeMillis()
    val out = span(s"op.$kind")(body)
    val t1 = System.nanoTime(); val ms1 = System.currentTimeMillis(); val c1 = processCpuNs
    ops += Op(id, kind, (t1 - t0) / 1e9, (c1 - c0) / 1e9, rows, ms0, ms1)
    out
  }

  /** A child span of the current operation (a no-op when not traced). */
  def span[T](name: String)(body: => T): T =
    if (!traced) body
    else {
      val id = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans(id) = Span(id, parent, currentOp, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** A span whose duration is also kept as a per-layer sample named `metric`. */
  def timed[T](name: String, metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = span(name)(body)
    sample(metric, (System.nanoTime() - t0) / 1e9)
    out
  }

  /** A per-layer sample (kept only in a traced run). */
  def sample(metric: String, v: Double): Unit =
    if (traced) samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Per-layer values: times are medians, counts are means per operation. */
  def layerValues: Map[String, Double] = samples.iterator.map { case (k, vs) =>
    k -> (if (k.endsWith("_s") || k.endsWith("_ms")) Stats.median(vs.toSeq) else vs.sum / vs.size)
  }.toMap

  /** Spark counters per operation kind (means per operation) and the
    * driver-only time: an operation's wall minus the union of its job walls.
    */
  def sparkByKind(): Map[String, Double] = {
    if (!traced) return Map.empty
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    val jobs = listener.jobs.values().asScala.toSeq
    val stages = listener.stages.asScala.toSeq
    def inside(op: Op, t: Long) = t >= op.startMs && t <= op.endMs
    ops.groupBy(_.kind).iterator.flatMap { case (kind, kOps) =>
      val per = kOps.map { op =>
        val js = jobs.filter(j => inside(op, j.start))
        val stageIds = js.flatMap(_.stageIds).toSet
        val ss = stages.filter(s => stageIds(s.id))
        val wall = Stats.unionLength(js.map(j => (j.start, j.end.max(j.start)))) / 1e3
        Seq(
          "jobs" -> js.size.toDouble,
          "stages" -> ss.size.toDouble,
          "tasks" -> ss.map(_.tasks).sum.toDouble,
          "task_s" -> ss.map(_.taskMs).sum / 1e3,
          "job_wall_s" -> wall,
          "shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
          "spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
          "driver_s" -> (op.wallS - wall).max(0.0))
      }
      per.head.map(_._1).iterator.map { name =>
        val vs = per.map(_.find(_._1 == name).get._2)
        val key = if (name == "driver_s") s"operators.driver_s.$kind" else s"spark.$name.$kind"
        key -> (if (name.endsWith("_s")) Stats.median(vs.toSeq) else vs.sum / vs.size)
      }
    }.toMap
  }

  /** Self time per layer, per operation: each span's duration minus the
    * part of it its child spans cover, summed by layer over the spans inside
    * operations (the probes between operations are left out).
    */
  def selfTimeByLayer(): Map[String, Double] = {
    val children = spans.groupBy(_.parent)
    def root(s: Span): Span = if (s.parent < 0) s else root(spans(s.parent))
    val byLayer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    spans.filter(s => root(s).layer == "op").foreach { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      byLayer(s.layer) += (s.endNs - s.startNs - Stats.unionLength(kids.toSeq)) / 1e9
    }
    val n = ops.size.max(1)
    byLayer.iterator.collect { case (l, v) if l != "op" => s"$l.self_s" -> v / n }.toMap
  }

  /** Spans as JSON lines: name, start, end (ns, relative), parent, operation. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.iterator.map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""start_ns":${s.startNs - t0},"end_ns":${s.endNs - t0}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }

  def close(): Unit = if (traced) spark.sparkContext.removeSparkListener(listener)
}

object Recorder {
  private val os = java.lang.management.ManagementFactory
    .getPlatformMXBean(classOf[com.sun.management.OperatingSystemMXBean])
  /** CPU time of all the JVM's threads. Unlike wall time it leaves out the
    * time a virtual machine's CPUs are held by the host (steal).
    */
  def processCpuNs: Long = os.getProcessCpuTime

  final case class Op(id: Int, kind: String, wallS: Double, cpuS: Double, rows: Long, startMs: Long, endMs: Long)
  final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
    def layer: String = name.takeWhile(_ != '.')
  }
  final case class Job(start: Long, end: Long, stageIds: Seq[Int])
  final case class StageDone(id: Int, tasks: Int, taskMs: Long, shuffleBytes: Long, spillBytes: Long)

  final class JobListener extends SparkListener {
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageDone]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, Job(e.time, e.time, e.stageIds)); ()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time)); ()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo; val m = i.taskMetrics
      stages.add(StageDone(i.stageId, i.numTasks, m.executorRunTime,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)); ()
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** Total length covered by a set of intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    covered + (curE - curS)
  }
}
