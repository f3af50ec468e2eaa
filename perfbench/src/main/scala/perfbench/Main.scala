package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The metric names and units the benchmark prints; `BENCHMARK.json` must
  * list exactly these (the runner checks it on every run).
  */
object Catalog {
  val OpKinds: Seq[String] =
    Seq("append", "merge", "delete", "propagate", "scan", "time_travel", "cdf", "history", "dedup")

  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "round_cpu_s" -> "s", "bytes_per_live_byte" -> "ratio")

  val perLayer: Seq[(String, String)] = {
    val s = "s"; val c = "count"
    Seq("tables.list_s" -> s, "tables.snapshot_s" -> s, "tables.snapshot_at_s" -> s) ++
      OpKinds.map(k => s"tables.folds.$k" -> c) ++
      Seq("tables.skip_s" -> s, "tables.skip_files_considered" -> c, "tables.skip_files_kept" -> c,
        "tables.skip_keep_ratio" -> "ratio", "tables.live_files" -> c, "tables.log_objects" -> c,
        "tables.checkpoints" -> c) ++
      Seq("append", "merge", "delete").map(k => s"tables.bytes_written.$k" -> "bytes") ++
      Seq("operators.files_rewritten_per_merge" -> c, "operators.rows_copied_per_row_updated" -> "ratio") ++
      OpKinds.map(k => s"operators.driver_s.$k" -> s) ++
      Seq("sources.scan_plan_s" -> s, "sources.scan_exec_s" -> s,
        "sources.stream_latest_offset_ms" -> "ms", "sources.stream_get_batch_ms" -> "ms",
        "streaming.add_batch_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
        "streaming.batches_per_drain" -> c,
        "log.cdf_plan_s" -> s, "log.cdf_exec_s" -> s, "log.history_s" -> s, "log.metrics_s" -> s,
        "pipeline.exact_s" -> s, "pipeline.minhash_s" -> s, "pipeline.simhash_s" -> s,
        "pipeline.minhash_removed" -> c, "pipeline.simhash_pairs" -> c, "pipeline.survivor_ratio" -> "ratio") ++
      Seq("tables", "operators", "sources", "streaming", "log", "pipeline").map(l => s"$l.self_s" -> s) ++
      (for {
        (m, u) <- Seq("jobs" -> c, "stages" -> c, "tasks" -> c, "task_s" -> s, "job_wall_s" -> s,
          "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes")
        k <- OpKinds
      } yield s"spark.$m.$k" -> u) ++
      Seq("jvm.gc_s" -> s, "jvm.heap_after_gc_mb" -> "MB", "trace.round_s" -> s)
  }
}

/** The share of all CPU time the host held this machine's CPUs (steal), from
  * `/proc/stat`; unknown where that file is missing.
  */
object Steal {
  def ticks: Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (f(7), f.sum)
  }.toOption
  def share(a: Option[(Long, Long)], b: Option[(Long, Long)]): Option[Double] = for {
    (s0, t0) <- a; (s1, t1) <- b if t1 > t0
  } yield (s1 - s0).toDouble / (t1 - t0)
}

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: Path,
    revision: String, setupReps: Int)

object Main {
  /** Timed fixture builds per run, after the warm-up and one untimed build
    * (the first build after the warm-up still carries much JIT compiling);
    * `setup_s` is their median.
    */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    if (kv.get("selftest").contains("1")) sys.exit(SelfTest.run(Paths.get(kv("out"))))
    if (kv.get("load-classes").contains("1")) { loadClasses(Paths.get(kv("out"))); sys.exit(0) }
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toInt, kv("trace") == "1",
      Paths.get(kv("out")), kv.getOrElse("revision", "unknown"), SetupReps)
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    withSession(a.out, a.workload) { (spark, work) => run(spark, work, a) }
    sys.exit(0)
  }

  /** Builds and warms every workload, so that the JVM the runner starts
    * after a build can archive the classes a run loads.
    */
  private def loadClasses(out: Path): Unit = withSession(out, "load-classes") { (spark, work) =>
    Workload.Names.foreach { name =>
      val w = Workload(name, spark, 0L)
      w.prepare(); w.build(work.resolve(name)); w.open(work.resolve(name)); w.warmup(); w.verify()
    }
  }

  /** The class-data archive this JVM maps, or "none" when it maps none. */
  private def classArchive: String = {
    val hs = ManagementFactory.getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
    val file = hs.getVMOption("SharedArchiveFile").getValue
    if (hs.getVMOption("UseSharedSpaces").getValue == "true" && file.nonEmpty)
      java.nio.file.Paths.get(file).getFileName.toString
    else "none"
  }

  /** Executor threads: half the cores, at most 4. The driver thread does
    * about half of each operation's work, and JIT and GC threads run beside
    * it; with every core given to executors, runs on a 4-core host whose
    * CPU is partly taken by other tenants were slower and less steady.
    */
  def cores: Int = math.min(4, math.max(1, Runtime.getRuntime.availableProcessors / 2))

  /** A local session whose every file lives under a fresh directory of
    * `out`, removed when the session ends.
    */
  def withSession[T](out: Path, label: String)(body: (SparkSession, Path) => T): T = {
    Files.createDirectories(out)
    val work = Files.createTempDirectory(out, s"$label-")
    val spark = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$label")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try body(spark, work)
    finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
      Workload.deleteTree(work)
    }
  }

  private def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def run(spark: SparkSession, work: Path, a: Args): Unit = {
    val load0 = loadavg
    val sinceJvmStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val w = Workload(a.workload, spark, a.seed)
    val p0 = System.nanoTime()
    w.prepare()
    val prepareS = (System.nanoTime() - p0) / 1e9
    /** A fixture build's wall and JVM CPU time. */
    def build(name: String): (Double, Double) = {
      val c0 = Recorder.processCpuNs; val t0 = System.nanoTime()
      w.build(work.resolve(name))
      ((System.nanoTime() - t0) / 1e9, (Recorder.processCpuNs - c0) / 1e9)
    }
    // the loop's fixture is built cold and warmed up; the timed builds come
    // after the warm-up, so they do not carry the JVM's cold start
    val coldS = build("fixture")._1
    w.open(work.resolve("fixture"))
    val w0 = System.nanoTime()
    w.warmup()
    val warmupS = (System.nanoTime() - w0) / 1e9
    val setups = (0 to a.setupReps).map { i =>
      val dt = build(s"timed-build-$i")
      Workload.deleteTree(work.resolve(s"timed-build-$i"))
      dt
    }.tail

    val rec = new Recorder(spark, a.trace)
    val roundWalls = mutable.ArrayBuffer.empty[Double]
    val roundCpus = mutable.ArrayBuffer.empty[Double]
    var error: Option[Throwable] = None
    // the storage ratio is taken after the first round, so that it does
    // not depend on how many rounds the time allows; the clock stops for it
    var amplification = Double.NaN
    var paused = 0L
    val gc0 = gcSeconds
    val steal0 = Steal.ticks
    val t0 = System.nanoTime()
    // whole rounds, at least one; another only if it should end within the
    // measuring time, so that the round count does not hinge on small swings
    def elapsed = (System.nanoTime() - t0 - paused) / 1e9
    while (error.isEmpty && (roundWalls.isEmpty || elapsed + roundWalls.last <= a.seconds)) {
      val first = rec.ops.size
      try w.round(rec)
      catch { case NonFatal(e) => error = Some(e) }
      val done = rec.ops.drop(first)
      roundWalls += done.map(_.wallS).sum
      roundCpus += done.map(_.cpuS).sum
      if (error.isEmpty && amplification.isNaN) {
        val p0 = System.nanoTime()
        amplification = Workload.bytesPerLiveByte(spark, w.table, work)
        paused += System.nanoTime() - p0
      }
    }
    val stealShare = Steal.share(steal0, Steal.ticks)
    val gcS = gcSeconds - gc0
    val busy = rec.ops.map(_.wallS).sum
    error.foreach { e => System.err.println(s"operation failed: $e"); e.printStackTrace() }
    if (error.isDefined) { roundWalls.remove(roundWalls.size - 1); roundCpus.remove(roundCpus.size - 1) }

    val loopS = elapsed
    val v0 = System.nanoTime()
    val failures = if (error.isEmpty) w.verify() else Seq("the loop stopped at a failed operation")
    failures.foreach(f => System.err.println(s"CHECK FAILED: $f"))
    val verifyS = (System.nanoTime() - v0) / 1e9
    val attempted = rec.ops.size + error.size
    val failed = error.size

    val e2e = Map(
      "setup_s" -> Stats.median(setups.map(_._2)),
      "round_s" -> (if (roundWalls.isEmpty) Double.NaN else Stats.median(roundWalls.toSeq)),
      "round_cpu_s" -> (if (roundCpus.isEmpty) Double.NaN else Stats.median(roundCpus.toSeq)),
      "bytes_per_live_byte" -> amplification)

    // the human-readable report; the last line is the machine-readable result
    println(s"# workload=${a.workload} seed=${a.seed} seconds=${a.seconds} trace=${a.trace} " +
      s"revision=${a.revision}")
    println(s"# nproc=${Runtime.getRuntime.availableProcessors} spark=local[$cores] " +
      f"loadavg_start=$load0%.2f loadavg_end=$loadavg%.2f closed_loop_clients=1 class_archive=$classArchive " +
      s"cpu_steal_in_loop=${stealShare.fold("unknown")(x => f"${100 * x}%.1f%%")}")
    println(f"# setup_s samples (CPU s): ${setups.map(x => f"${x._2}%.3f").mkString(", ")}; wall s: " +
      f"${setups.map(x => f"${x._1}%.3f").mkString(", ")}; cold build $coldS%.3f s and warmup $warmupS%.3f s untimed")
    println(f"# phases: JVM and session $sinceJvmStart%.2f s, reference $prepareS%.2f s, " +
      f"set-up ${coldS + setups.map(_._1).sum}%.2f s, warmup $warmupS%.2f s, loop $loopS%.2f s (busy $busy%.2f s), " +
      f"checks $verifyS%.2f s")
    println(s"# rounds=${roundWalls.size} operations=${rec.ops.size}; round walls: " +
      roundWalls.map(x => f"$x%.3f").mkString(" ") + "; round CPU: " + roundCpus.map(x => f"$x%.3f").mkString(" "))
    rec.ops.groupBy(_.kind).toSeq.sortBy(_._2.head.id).foreach { case (k, v) =>
      println(s"# $k walls: ${v.map(o => f"${o.wallS}%.3f").mkString(" ")}")
    }
    val issueMetrics = Seq(("setup_s", e2e("setup_s"), "s", setups.size),
      ("failed_ops_frac", failed.toDouble / attempted.max(1), "ratio", attempted),
      ("bytes_per_live_byte", amplification, "ratio", 1),
      ("round_s", e2e("round_s"), "s", roundWalls.size),
      ("round_cpu_s", e2e("round_cpu_s"), "s", roundCpus.size)) ++
      (if (rec.ops.nonEmpty) w.report(rec) else Nil)
    issueMetrics.foreach { case (n, v, u, k) => println(f"# metric $n%-22s $v%14.6f $u%-6s samples=$k") }

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Catalog.endToEnd.map { case (n, u) => (n, e2e(n), u) }
      else {
        tableEndSamples(spark, w, rec)
        rec.sample("jvm.gc_s", gcS)
        System.gc()
        val rt = Runtime.getRuntime
        rec.sample("jvm.heap_after_gc_mb", (rt.totalMemory - rt.freeMemory) / 1048576.0)
        val layer = rec.layerValues ++ rec.sparkByKind() ++ rec.selfTimeByLayer() +
          ("trace.round_s" -> e2e("round_s"))
        val spans = a.out.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")
        rec.writeSpans(spans)
        println(s"# spans=${rec.spans.size} written to ${a.out.getFileName}/${spans.getFileName}")
        Catalog.perLayer.map { case (n, u) => (n, layer.getOrElse(n, 0.0), u) }
      }
    rec.close()
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = failures.isEmpty && failed == 0
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
  }

  /** End-of-workload table shape and the merge write amplification read
    * back from the commit metrics (traced runs).
    */
  private def tableEndSamples(spark: SparkSession, w: Workload, rec: Recorder): Unit = {
    val t = w.table
    rec.sample("tables.live_files", t.snapshot.files.size.toDouble)
    rec.sample("tables.log_objects", Workload.countEntries(t.log.logDir).toDouble)
    rec.sample("tables.checkpoints", t.log.checkpointVersions().size.toDouble)
    val merges = t.history().map(_._2).filter(_.operation == "MERGE").map(_.operationMetrics)
    if (merges.nonEmpty) {
      def total(k: String) = merges.map(_.getOrElse(k, "0").toDouble).sum
      rec.sample("operators.files_rewritten_per_merge", total("numTargetFilesRemoved") / merges.size)
      rec.sample("operators.rows_copied_per_row_updated",
        total("numTargetRowsCopied") / total("numTargetRowsUpdated").max(1.0))
    }
  }
}
