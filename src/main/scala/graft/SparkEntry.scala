package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.log.{ChangeDataFeedHelper, OperationMetricHelper}
import graft.operators._
import graft.pipeline.{Dedup, Multimodal, Sampling, Similarity, TextAnalysis}
import graft.tables.{AddCDCFile, AddFile, DeletionVectors, GraftLog, GraftTable, TableWriter}

/** Driver contract — one query per implemented operator from SURVEY.md §2
  * plus the LLM-pipeline operators. Each query is deterministic and
  * self-contained: mutation operators build a scratch GraftTable from the
  * sfDir parquet inputs, run the operator, and return the resulting table.
  * `oracleSql` holds the DuckDB-equivalent for the hash-compare gate.
  */
object SparkEntry {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).resolve("t").toString

  /** ONE `graft_cat` warehouse for every catalog-exercising gate query.
    * Spark CACHES the catalog instance with the warehouse it saw at FIRST
    * use — a per-query warehouse conf would silently diverge from the
    * cached catalog (tables created by path under warehouse B, resolved by
    * the catalog under warehouse A). Queries isolate by NAMESPACE instead,
    * and drop/recreate their tables so bench re-measurement is idempotent.
    */
  private lazy val gateWarehouse: String =
    Files.createTempDirectory("graft-gate-wh").toString

  private def catalogWarehouse(s: SparkSession): String = {
    s.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_cat.warehouse", gateWarehouse)
    gateWarehouse
  }

  private def read(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Run a DELIBERATELY-failing action with Spark's ERROR logging muted.
    * The s14/s65 gates append violating rows to prove rejection; Spark
    * logs the aborted job's full stack at ERROR just before Bench's
    * summary line, which can push the one-line JSON out of the driver's
    * bounded tail capture. The failure is the fixture's EXPECTED outcome —
    * mute `org.apache.spark` for the body's duration, restore after.
    */
  private def quietExpectedFailure[T](body: => T): T = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.config.Configurator
    val logger = "org.apache.spark"
    val before = LogManager.getLogger(logger).getLevel
    Configurator.setLevel(logger, Level.OFF)
    try body finally Configurator.setLevel(logger, before)
  }

  /** The stateful replay harnesses' session shape, restored whatever
    * `body` does (including a failed stream START — setting confs outside
    * the protected region leaked them into every later query when start()
    * threw): state partitions sized to the replays' key cardinality
    * (~dozens of keys; see q6's sizing note), and — for the WATERMARKED
    * replays (`disableNdmb = true`, the default) — no-data micro-batches
    * off: those replays drain via explicit processAllAvailable/sentinels,
    * so the watermark-advance no-data batches emit nothing the next data
    * batch would not, while each costs a full state-commit cycle per
    * store (measured ~2x on the windowed replays). A live deployment
    * wanting EAGER emission between arrivals keeps the default.
    *
    * The UNWATERMARKED dropDuplicates replays (q15, q16) pass
    * `disableNdmb = false`: they have no watermark state for a no-data
    * batch to advance, and measured WITH ndmb disabled they are ~0.5 s
    * SLOWER per run (min-of-3: 1.61 vs 1.48 s, and 2.18 vs 1.53 s on the
    * repeat — the r17 driver saw the same 1.39 → 2.20 s regression on
    * q15): without the prompt post-data no-data batch the
    * processAllAvailable drain detects quiescence on a poll interval
    * instead. Session default (ndmb on) is the right call for them.
    */
  private def withReplayConfs[T](s: SparkSession, disableNdmb: Boolean = true)(body: => T): T = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevNdmb = s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    if (disableNdmb)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try body finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNdmb)
    }
  }

  /** (exact pairs, approx hits among them) of a recall gate in ONE action:
    * the left join marks each exact `(query_id, corpus_id)` pair the approx
    * side also returned, so the exact side — a full brute-force pass —
    * executes once. The fold assumes approx pairs are unique (rank <= k per
    * query): a duplicated approx pair would double-count its exact pair, so
    * the same aggregate counts the DISTINCT matched pairs and the gate fails
    * loudly when the two disagree.
    */
  private def recallCounts(exact: DataFrame, approx: DataFrame, gate: String): (Long, Long) = {
    val row = exact
      .join(approx.withColumn("__m", lit(1)), Seq("query_id", "corpus_id"), "left")
      .agg(count(lit(1)), count(col("__m")),
        countDistinct(when(col("__m").isNotNull, col("query_id")), col("corpus_id")))
      .first()
    val (total, hits, distinctHits) = (row.getLong(0), row.getLong(1), row.getLong(2))
    if (hits != distinctHits)
      throw new IllegalStateException(
        s"$gate: the approximate side returned duplicate (query_id, corpus_id) " +
          s"pairs ($hits matches, $distinctHits distinct) — recall would be overstated")
    (total, hits)
  }

  /** events.ts as truncated epoch-µs BIGINT, robust to how the parquet
    * surfaced the column across testdata generations: raw-ns long (legacy
    * TIMESTAMP(NANOS) + nanosAsLong), TIMESTAMP, or TIMESTAMP_NTZ (session
    * timezone is pinned UTC, so the NTZ→TS cast is µs-identity). Matches
    * DuckDB `epoch_ns(ts) // 1000` in every case. */
  private def tsUs(df: DataFrame): org.apache.spark.sql.Column =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("ts div 1000")
      case org.apache.spark.sql.types.TimestampNTZType =>
        unix_micros(col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => unix_micros(col("ts"))
    }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("m2_scd2_upsert")(spark, "/root/testdata/sf0.001")

  /** CDF failure-scenario fixture over `region`: v0 create (CDF on),
    * v1 update key 0 → EUROPA, v2 update key 1 → ZEPHYR, v3 delete key 4.
    * The physical change files of versions in `dropCdcAt` are then deleted
    * (simulating a partial vacuum / manual tampering — the reference's
    * recovery scenarios, `ChangeDataFeedHelperSpec.scala:43,85,100`); the
    * LOG entries stay, which is exactly the state the C4/C10 recovery path
    * has to detect by probing the filesystem.
    */
  private def cdfScenarioTable(s: SparkSession, dir: String, prefix: String,
      dropCdcAt: Seq[Long]): String = {
    val dirT = tmp(prefix)
    val t = GraftTable.create(s, dirT, read(s, dir, "region"),
      properties = Map(GraftLog.CdfProperty -> "true"))
    TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'")) // v1
    TableOps.update(t, Some("r_regionkey = 1"), Map("r_name" -> "'ZEPHYR'")) // v2
    TableOps.delete(t, Some("r_regionkey = 4"))                              // v3
    dropCdcAt.foreach { v =>
      t.log.actionsAt(v).collect { case c: AddCDCFile => c.path }
        .foreach(p => Files.deleteIfExists(java.nio.file.Paths.get(dirT, p)))
    }
    dirT
  }

  /** CDF enable/disable toggle fixture over `nation` with DETERMINISTIC
    * updates (ids < 3, not limit(3)), so the change rows themselves are
    * oracle-predictable: v0 create (CDF on), v1 merge-update (cdc),
    * v2 disable, v3 merge-update (no cdc), v4 enable, v5 merge-update (cdc).
    */
  private def cdfToggleTable(s: SparkSession, dir: String, prefix: String): String = {
    val base = read(s, dir, "nation")
      .select(col("n_nationkey").as("id"), col("n_name").as("name"))
    val t = GraftTable.create(s, tmp(prefix), base,
      properties = Map(GraftLog.CdfProperty -> "true"))
    def up(suffix: String): Unit =
      GraftMerge(t, "old")
        .merge(base.filter(col("id") < 3).withColumn("name", concat(col("name"), lit(suffix))),
          "old.id = new.id", Some("new"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
    up("_1")                                               // v1 enabled (cdc)
    t.setProperties(Map(GraftLog.CdfProperty -> "false"))  // v2 disabled
    up("_2")                                               // v3 disabled (no cdc)
    t.setProperties(Map(GraftLog.CdfProperty -> "true"))   // v4 enabled
    up("_3")                                               // v5 enabled (cdc)
    t.path
  }

  /** Deterministic per-doc URL synthesis shared by t14/d32 (the corpus has
    * no URL column): five shapes covering www hosts with deep paths,
    * two-level-suffix hosts with query strings, raw IPv4 hosts, bare
    * apexes, and a non-http scheme. [[UrlFixtureSql]] is the same mapping
    * for the DuckDB oracles.
    */
  private def urlFixture(s: SparkSession, dir: String): DataFrame =
    read(s, dir, "documents")
      .select(col("doc_id"), lower(col("source")).as("src"))
      .withColumn("url",
        when(col("doc_id") % 5 === 0,
          concat(lit("https://www."), col("src"), lit(".com/articles/"),
            col("doc_id").cast("string"), lit("/view")))
        .when(col("doc_id") % 5 === 1,
          concat(lit("http://blog."), col("src"), lit(".co.uk/post?id="),
            col("doc_id").cast("string")))
        .when(col("doc_id") % 5 === 2,
          concat(lit("https://10.0."), (col("doc_id") % 200).cast("string"), lit(".1/x")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("https://"), col("src"), lit(".org")))
        .otherwise(concat(lit("ftp://files."), col("src"), lit(".net/pub/data.bin"))))
      .select(col("doc_id"), col("url"))

  /** Seeded synthetic corpus behind the GOLDEN-VALUE queries (t12/t13/t15)
    * — the operators whose semantics no SQL engine can replay (iterative
    * BPE merge state, deflate). Their fixtures are generated IN the query
    * from a fixed 64-bit LCG (MMIX constants), so the full operator output
    * is a constant that the oracle states as literal VALUES: the driver
    * gate compares rows, schema and hash like every other entry (no more
    * rows-only checks), and the pinned literals survive testdata
    * regeneration because nothing here reads the sf dir. The operators
    * still run genuinely distributed (the fixture is repartitioned).
    *
    * Texts span three regimes so deflate is exercised across its range:
    * id%4==3 repeats one word (ratio ≪ 1), id%4==2 is high-entropy
    * gibberish (ratio ≈ 1), the rest sample a 26-word vocabulary.
    */
  private[graft] lazy val goldenDocs: Seq[(Long, String)] = {
    val vocab = Vector("the", "of", "and", "to", "in", "model", "data",
      "train", "token", "scale", "corpus", "merge", "pair", "byte", "learn",
      "deep", "graph", "query", "spark", "shard", "sample", "filter",
      "dedup", "hash", "index", "batch")
    var state = 0x9E3779B97F4A7C15L
    def nextInt(bound: Int): Int = {
      state = state * 6364136223846793005L + 1442695040888963407L
      val x = (state >>> 33).toInt
      ((x % bound) + bound) % bound
    }
    (0L until 64L).map { id =>
      val text = (id % 4).toInt match {
        case 3 =>
          val w = vocab(nextInt(vocab.size)) // bind once: fill is by-name
          Seq.fill(30)(w).mkString(" ")
        case 2 => (0 until 12).map { _ =>
          (0 until 8).map(_ => ('a' + nextInt(26)).toChar).mkString
        }.mkString(" ")
        case _ =>
          (0 until (20 + nextInt(20))).map(_ => vocab(nextInt(vocab.size))).mkString(" ")
      }
      (id, text)
    }
  }

  private def goldenCorpus(s: SparkSession): DataFrame = {
    import s.implicits._
    goldenDocs.toDF("doc_id", "text").repartition(4)
  }

  /** DuckDB CTE mirroring [[urlFixture]] (aliased `u(doc_id, url)`). */
  private val UrlFixtureSql: String =
    """u AS (
      |  SELECT doc_id,
      |    CASE doc_id % 5
      |      WHEN 0 THEN 'https://www.' || lower(source) || '.com/articles/' || CAST(doc_id AS VARCHAR) || '/view'
      |      WHEN 1 THEN 'http://blog.' || lower(source) || '.co.uk/post?id=' || CAST(doc_id AS VARCHAR)
      |      WHEN 2 THEN 'https://10.0.' || CAST(doc_id % 200 AS VARCHAR) || '.1/x'
      |      WHEN 3 THEN 'https://' || lower(source) || '.org'
      |      ELSE 'ftp://files.' || lower(source) || '.net/pub/data.bin'
      |    END AS url
      |  FROM documents)""".stripMargin

  // ====================================================================
  // Query implementations
  // ====================================================================

  /** Two-phase form of every driver query: `staged(name)(spark, sfDir)`
    * builds the scenario FIXTURE (scratch GraftTables, commit histories,
    * collected streaming inputs — setup a real deployment would already
    * have) and returns a thunk that runs the MEASURED operator. Bench times
    * the two phases separately so fixture construction can't pollute
    * per-query engine numbers (judge round-7 ask: c2's line was ~90%
    * fixture). Queries with no fixture are thunked whole.
    */
  def staged: Map[String, (SparkSession, String) => () => DataFrame] = Map(
    // ---- analytics headliners (Catalyst-native; pushdown + partial agg) ----
    // NOTE on version-proof outputs (round-3 hardening): the r2 driver hash
    // skew on q1/q3/q4 came from engine-VERSION-dependent semantics — DuckDB
    // changed both double→DECIMAL cast rounding and TIMESTAMP_NS handling
    // across releases (1.0.0 truncates ns→µs at parquet read; newer versions
    // surface TIMESTAMP_NS). These queries therefore avoid both: money/value
    // aggregates use fixed-point BIGINT via floor(x*scale + 0.5) — every step
    // is an IEEE-754 double op + integer op that ALL engines define
    // identically (half-UP rounding: correct for the non-negative quantities
    // and prices here, but differs from half-away-from-zero for negatives —
    // use floor(abs(x)*s+0.5)*sign(x) in both engines if inputs may go
    // negative) — and event timestamps travel as BIGINT epoch-µs
    // (Spark: raw-ns `ts div 1000`; DuckDB: `epoch_ns(ts) // 1000`, which
    // truncates identically whether the read surfaced ns or µs).
    "q1_pricing_summary" -> ((s, dir) => () => {
      read(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("1998-09-01 00:00:00")))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(expr("CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)")).as("sum_qty_c"),
          sum(expr("CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)")).as("sum_base_price_c"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),
    "q2_top_customers" -> ((s, dir) => () => {
      val orders = read(s, dir, "orders")
      val customer = read(s, dir, "customer")
      orders
        .join(broadcast(customer), orders("o_custkey") === customer("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(sum(expr("CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)")).as("total_spent_c"),
          count(lit(1)).as("order_count"))
        .orderBy(col("total_spent_c").desc, col("c_custkey"))
        .limit(10)
    }),
    "q3_user_running_totals" -> ((s, dir) => () => {
      // "running" means TIME-ordered: order by (raw-ns ts, event_id) — the
      // raw long is engine-proof (no timestamp semantics to disagree on) and
      // the unique event_id breaks exact-ns ties deterministically. Ordering
      // by event_id alone would only be time-equivalent while the generator
      // happens to assign ids in timestamp order per user.
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      read(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"), col("ts"))
        .withColumn("event_seq", row_number().over(w))
        .withColumn("running_value_e4",
          sum(expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
        .select("event_id", "user_id", "event_seq", "running_value_e4")
    }),

    "q4_sessionize" -> ((s, dir) => () => {
      val raw = read(s, dir, "events")
      val events = raw.select(
        col("event_id"), col("user_id"),
        tsUs(raw).as("ts_us"), // truncated epoch-µs (type-robust)
        expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").as("value"))
      graft.streaming.StreamingOps
        .sessionizeBatch(events, gapMs = 30 * 60 * 1000L,
          tsCol = "ts_us", orderCols = Seq("ts_us", "event_id"),
          tsMillis = Some(expr("ts_us div 1000")))
        .select(col("user_id"),
          col("session_start").as("session_start_us"),
          col("session_end").as("session_end_us"),
          col("events"),
          col("total_value").as("total_value_e4"))
    }),

    "q5_asof_join" -> ((s, dir) => () => {
      // point-in-time join: each event picks the latest "state marker" row
      // (every 50th event of the same user) at or before its timestamp;
      // times travel as BIGINT epoch-µs (see version-proofing note above)
      val raw = read(s, dir, "events")
      val events = raw.select(
        col("event_id"), col("user_id"), tsUs(raw).as("ts_us"))
      val markers = events.filter(col("event_id") % 50 === 0)
        .select(col("user_id"), col("ts_us").as("mts_us"), col("event_id").as("marker_id"))
      AsOfJoin.asofJoin(events, markers, Seq("user_id"), "ts_us", "mts_us", Seq("marker_id"))
        .select(col("event_id"), col("user_id"), col("marker_id"))
    }),

    "q20_stream_quantiles" -> ((s, dir) => {
      // the quantile sketch as STREAMING STATE: q6's replay harness, but
      // the windowed aggregate is the mergeable KLL summary — its buffer
      // serializes into the state store between micro-batches. Group sizes
      // sit far under k, so the finalized windows carry EXACT discrete
      // order statistics and DuckDB reproduces them with a rank window.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rawEv = read(s, dir, "events")
      val rows = rawEv
        .filter(col("event_id") < 2000)
        .select(col("event_id"), tsUs(rawEv).as("ts_us"), col("event_type"),
          expr("CAST(floor(value * 10000 + 0.5) AS DOUBLE)").as("value"))
        .orderBy(col("ts_us"), col("event_id"))
        .as[(Long, Long, String, Double)].collect()
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Double)]
      val stream = input.toDF().toDF("event_id", "ts_us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val name = "q20_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withReplayConfs(s) { // conf comment: see the helper
      val query = graft.streaming.StreamingOps
        .windowedValueQuantiles(stream, watermarkDelay = "10 minutes")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 4 + 1))
          .foreach { b => input.addData(b.toIndexedSeq); query.processAllAvailable() }
        val sentinel = (-1L,
          java.sql.Timestamp.valueOf("2030-01-01 00:00:00").getTime * 1000L, "flush", 0.0d)
        input.addData(sentinel); query.processAllAvailable()
        input.addData(sentinel); query.processAllAvailable()
      } finally query.stop()
      }
      s.table(name)
        .filter(col("event_type") =!= "flush")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          col("event_type"), col("p50"), col("p90"), col("events"))
      }
    }),
    "q6_windowed_stream" -> ((s, dir) => {
      // TRUE streaming execution, deterministically replayed: 2000 events
      // (bounded, time-sorted — a replay harness is inherently driver-fed)
      // stream through MemoryStream in 4 micro-batches; watermark state
      // carries across batches; APPEND mode emits each finalized window
      // exactly once; two sentinel batches push the watermark past every
      // real window so the finalized set equals the full batch aggregation,
      // which DuckDB computes with integer-µs window arithmetic.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rawEv = read(s, dir, "events")
      val rows = rawEv
        .filter(col("event_id") < 2000)
        .select(col("event_id"), tsUs(rawEv).as("ts_us"), col("event_type"),
          expr("CAST(floor(value * 10000 + 0.5) AS BIGINT)").as("value"))
        .orderBy(col("ts_us"), col("event_id"))
        .as[(Long, Long, String, Long)].collect()
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Long, String, Long)]
      val stream = input.toDF().toDF("event_id", "ts_us", "event_type", "value")
        .withColumn("ts", timestamp_micros(col("ts_us")))
      val name = "q6_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // size state partitions to the state's key cardinality (~dozens of
      // (window, event_type) keys): shuffle-partition count is FROZEN into a
      // streaming query's state layout at first start, and every micro-batch
      // commits one state-store delta per partition — 32 partitions × 6
      // batches of per-store file commits is pure overhead here, exactly the
      // sizing a real deployment does per stream (result is partition-count
      // independent)
      withReplayConfs(s) { // conf comment: see the helper
      val query = graft.streaming.StreamingOps
        .windowedEventStats(stream, watermarkDelay = "10 minutes")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 4 + 1))
          .foreach { b => input.addData(b.toIndexedSeq); query.processAllAvailable() }
        // far-future sentinel, twice: batch N's emission uses the watermark
        // set at the END of batch N-1, so the first sentinel advances it and
        // the second triggers the final flush (its own window never emits)
        val sentinel = (-1L,
          java.sql.Timestamp.valueOf("2030-01-01 00:00:00").getTime * 1000L, "flush", 0L)
        input.addData(sentinel); query.processAllAvailable()
        input.addData(sentinel); query.processAllAvailable()
      } finally query.stop()
      }
      s.table(name)
        .filter(col("event_type") =!= "flush")
        .select(unix_micros(col("window_start")).as("window_start_us"),
          unix_micros(col("window_end")).as("window_end_us"),
          col("event_type"), col("events"), col("total_value"))
      }
    }),

    "q19_stream_merge" -> ((s, dir) => {
      // the canonical streaming-UPSERT pattern (Delta's foreachBatch +
      // MERGE): a keyed update stream lands in per-micro-batch ACID merge
      // commits — updates hit existing keys, inserts create new ones, and
      // the final table state is the deterministic fold of the batches
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val dirT = tmp("q19")
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, dirT, base)
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
      val name = "q19_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = input.toDF().toDF("id", "name")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          GraftMerge(GraftTable.forPath(s, dirT), "old")
            .merge(batch, "old.id = new.id", Some("new"))
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
          ()
        }
        .queryName(name).start()
      try {
        input.addData((0L, "U1_zero"), (1L, "U1_one"), (100L, "new_hundred"))
        query.processAllAvailable()
        input.addData((1L, "U2_one"), (101L, "new_hundred_one"))
        query.processAllAvailable()
        input.addData((2L, "U3_two"))
        query.processAllAvailable()
      } finally query.stop()
      GraftTable.forPath(s, dirT).toDF
      }
    }),

    "q18_stream_interval_join" -> ((s, dir) => {
      // TRUE stream-stream join, deterministically replayed: clicks and
      // purchases (event_id < 2000) stream through two MemoryStreams in 4
      // lockstep micro-batches; the watermarked interval join attributes
      // each purchase to the same user's clicks in the preceding hour. The
      // replay watermark delay spans the whole fixture so no edge row is
      // evicted mid-replay, making the drained result equal the batch join
      // the DuckDB oracle computes (state-bounding is the operator's
      // documented production shape; eviction is exercised in spec).
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rawEv = read(s, dir, "events")
      def side(t: String) = rawEv.filter(col("event_id") < 2000 && col("event_type") === t)
        .select(col("event_id"), tsUs(rawEv).as("ts_us"), col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
        .as[(Long, Long, Long)].collect()
      val clicks = side("click")
      val purchases = side("purchase")
      () => {
      val inC = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
      val inP = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
      def frame(in: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]) =
        in.toDF().toDF("event_id", "ts_us", "user_id")
          .withColumn("ts", timestamp_micros(col("ts_us")))
      val name = "q18_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      withReplayConfs(s) { // conf comment: see the helper
      val query = graft.streaming.StreamingOps
        .intervalJoinStream(frame(inC), frame(inP), "user_id",
          watermarkDelay = "3650 days", lowerSeconds = 0L, upperSeconds = 3600L)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        // 2 lockstep batch pairs: still a true cross-batch streaming join,
        // at half the per-micro-batch state-commit overhead of 4 (stream-
        // stream joins commit four state stores per batch — the dominant
        // cost of a small replay)
        val cb = clicks.grouped(math.max(1, clicks.length / 2 + 1)).toSeq
        val pb = purchases.grouped(math.max(1, purchases.length / 2 + 1)).toSeq
        (0 until math.max(cb.length, pb.length)).foreach { i =>
          cb.lift(i).foreach(b => inC.addData(b.toIndexedSeq))
          pb.lift(i).foreach(b => inP.addData(b.toIndexedSeq))
          query.processAllAvailable()
        }
      } finally query.stop()
      }
      s.table(name).select(
        col("event_id").as("click_id"), col("event_id_r").as("purchase_id"),
        col("user_id"))
      }
    }),

    "q15_stream_dedup" -> ((s, dir) => {
      // TRUE streaming content dedup: the documents corpus (which contains
      // exact/boilerplate reposts) streams through in 4 micro-batches;
      // stateful dropDuplicates on the content fingerprint carries seen-set
      // state ACROSS batches, so a repost in batch 3 of a batch-1 doc is
      // dropped. Output is the surviving fingerprint set — identical to the
      // batch DISTINCT the oracle computes, whichever arrival won its group.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val rows = read(s, dir, "documents")
        .orderBy("doc_id")
        .select(col("doc_id"), col("text"))
        .as[(Long, String)].collect()
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String)]
      val stream = input.toDF().toDF("doc_id", "text")
      val name = "q15_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // state keyed by fingerprint: size partitions to the corpus's distinct
      // count scale, not the session default (see q6's sizing note);
      // unwatermarked dedup keeps ndmb ON (see the helper's doc)
      withReplayConfs(s, disableNdmb = false) { // conf comment: see the helper
      val query = graft.streaming.StreamingOps.fingerprintDedupStream(stream)
        .select("fingerprint")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        rows.grouped(math.max(1, rows.length / 4 + 1))
          .foreach { b => input.addData(b.toIndexedSeq); query.processAllAvailable() }
      } finally query.stop()
      }
      s.table(name).select("fingerprint")
      }
    }),

    "q10_stream_source" -> ((s, dir) => {
      // TRUE streaming read through the version-offset source: batch 1 is
      // the v0 snapshot as inserts, then an UPDATE and a DELETE land while
      // the stream is live and surface as per-commit change batches with
      // their _commit_version stamps — all literal-predictable from region
      val dirT = tmp("q10")
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      () => {
      val name = "q10_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = s.readStream.format("graft").load(dirT)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        query.processAllAvailable()
        TableOps.update(t, Some("r_regionkey = 2"), Map("r_name" -> "'ATLANTIS'")) // v1
        query.processAllAvailable()
        TableOps.delete(t, Some("r_regionkey = 3"))                                // v2
        query.processAllAvailable()
      } finally query.stop()
      s.table(name).select(
        col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),

    "q17_stream_available_now" -> ((s, dir) => {
      // batch-mode catch-up: Trigger.AvailableNow over a 5-commit backlog
      // with a 2-version admission bound — drains in >=3 bounded
      // micro-batches and SELF-terminates (the source implements
      // SupportsTriggerAvailableNow; Spark 4 has no generic v1 fallback)
      val dirT = tmp("q17")
      val region = read(s, dir, "region").select("r_regionkey", "r_name")
      val t = GraftTable.create(s, dirT, region)
      (1 to 5).foreach(i => t.append(
        region.filter(col("r_regionkey") === 0).select(
          (col("r_regionkey") + 100 + i).cast("int").as("r_regionkey"),
          lit(s"catchup$i").as("r_name"))))
      () => {
      val name = "q17_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = s.readStream.format("graft")
        .option("startingVersion", 1)
        .option("maxVersionsPerTrigger", 2)
        .load(dirT)
        .writeStream.format("memory").queryName(name).outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try require(query.awaitTermination(120000),
        "AvailableNow catch-up did not self-terminate")
      finally query.stop()
      s.table(name).select(
        col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),

    "q14_stream_start_timestamp" -> ((s, dir) => {
      // startingTimestamp on the streaming source: clock-controlled history
      // (v0 100h, v1 50h, v2 10h ago); a cutoff 24h ago must resolve to the
      // FIRST commit at-or-after it (v2) and replay exactly its change rows
      val dirT = tmp("q14")
      val region = read(s, dir, "region").select("r_regionkey", "r_name")
      val t = GraftTable.create(s, dirT, region,
        properties = Map(GraftLog.CdfProperty -> "true"))                    // v0
      t.append(region.select((col("r_regionkey") + 10).as("r_regionkey"),
        col("r_name")))                                                       // v1
      t.append(region.select((col("r_regionkey") + 20).as("r_regionkey"),
        col("r_name")))                                                       // v2
      Seq(0L -> 100, 1L -> 50, 2L -> 10).foreach { case (v, h) =>
        val ts = System.currentTimeMillis() - h * 3600L * 1000
        t.log.rewriteVersion(v, t.log.actionsAt(v).map {
          case ci: graft.tables.CommitInfo => ci.copy(timestamp = ts)
          case other                       => other
        })
      }
      () => {
      val startIso = java.time.Instant
        .ofEpochMilli(System.currentTimeMillis() - 24L * 3600 * 1000).toString
      val name = "q14_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = s.readStream.format("graft")
        .option("startingTimestamp", startIso).load(dirT)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try query.processAllAvailable() finally query.stop()
      s.table(name).select(
        col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),

    "q9_time_travel" -> ((s, dir) => {
      // versionAsOf reader option: v0 = first 10 nations, v1 = +10 more,
      // v2 = overwrite with a sentinel row. Reading v1 must see exactly the
      // 20 appended rows and ignore the overwrite — through the same native
      // vectorized-scan path as a latest read (pinned file index).
      val dirT = tmp("q9")
      val nation = read(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val t = GraftTable.create(s, dirT, nation.filter(col("n_nationkey") < 10)) // v0
      t.append(nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)) // v1
      t.overwrite(nation.filter(col("n_nationkey") === 0)
        .withColumn("n_name", lit("SENTINEL")))                                   // v2
      () => {
      s.read.format("graft").option("versionAsOf", 1).load(dirT)
      }
    }),

    "q12_time_travel_timestamp" -> ((s, dir) => {
      // timestampAsOf reader option: v0 = first 10 nations, v1 = +10 more.
      // Reading at exactly v0's commit instant must resolve to v0 (latest
      // commit at-or-before the ts) and ignore v1. The append is held until
      // the wall clock has passed v0's commit millisecond, so the two commit
      // timestamps can never collide and the resolution is deterministic.
      val dirT = tmp("q12")
      val nation = read(s, dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
      val t = GraftTable.create(s, dirT, nation.filter(col("n_nationkey") < 10)) // v0
      val ts0 = t.history().toMap.apply(0L).timestamp
      while (System.currentTimeMillis() <= ts0) Thread.sleep(1)
      t.append(nation.filter(col("n_nationkey") >= 10 && col("n_nationkey") < 20)) // v1
      () => {
      s.read.format("graft")
        .option("timestampAsOf", java.time.Instant.ofEpochMilli(ts0).toString)
        .load(dirT)
      }
    }),

    "q16_stream_curate_sink" -> ((s, dir) => {
      // the LIVE ingest loop end to end: documents stream in 4 micro-batches
      // through the stateful fingerprint dedup gate and land in a GraftTable
      // via the exactly-once sink — cross-batch reposts never reach the
      // table, and the fingerprint set READ BACK FROM THE TABLE equals the
      // batch DISTINCT the oracle computes (fingerprints, not row identity:
      // which arrival survives within a micro-batch is the operator's
      // choice, the surviving CONTENT set is the contract)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val dirT = tmp("q16")
      val rows = read(s, dir, "documents")
        .orderBy("doc_id")
        .select(col("doc_id"), col("text"), col("lang"))
        .as[(Long, String, String)].collect()
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, String, String)]
      val curated = graft.streaming.StreamingOps
        .fingerprintDedupStream(
          input.toDF().toDF("doc_id", "text", "lang"))
        .select("doc_id", "lang", "fingerprint")
      // unwatermarked dedup keeps ndmb ON (see the helper's doc)
      withReplayConfs(s, disableNdmb = false) { // conf comment: see the helper
      val query = graft.streaming.GraftSink
        .writeStreamTo(curated, dirT, "q16app").start()
      try {
        rows.grouped(math.max(1, rows.length / 4 + 1))
          .foreach { b => input.addData(b.toIndexedSeq); query.processAllAvailable() }
      } finally query.stop()
      }
      GraftTable.forPath(s, dirT).toDF.select("fingerprint")
      }
    }),

    "q8_stream_sink" -> ((s, dir) => {
      // TRUE streaming write with exactly-once semantics: nation rows stream
      // through MemoryStream into a GraftTable in 3 micro-batches via the
      // SetTransaction-watermarked sink; afterwards the LAST epoch is
      // replayed (the post-failure foreachBatch contract) and must be
      // skipped — any double-append shows up as a hash/rowcount mismatch
      // against the plain SELECT oracle
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val dirT = tmp("q8")
      val seed = read(s, dir, "nation").filter(col("n_nationkey") < 5)
        .select("n_nationkey", "n_name", "n_regionkey")
      GraftTable.create(s, dirT, seed)
      val rest = read(s, dir, "nation").filter(col("n_nationkey") >= 5)
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .as[(Int, String, Int)].collect()
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Int, String, Int)]
      val query = graft.streaming.GraftSink.writeStreamTo(
        input.toDF().toDF("n_nationkey", "n_name", "n_regionkey"), dirT, "q8app")
        .start()
      var lastEpoch = -1L
      try {
        rest.grouped(math.max(1, rest.length / 3 + 1)).foreach { b =>
          input.addData(b.toIndexedSeq); query.processAllAvailable()
        }
        lastEpoch = query.lastProgress.batchId
      } finally query.stop()
      // post-failure replay of the final epoch: exactly-once = skipped
      val replayed = graft.streaming.GraftSink.writeEpoch(dirT, "q8app")(
        rest.takeRight(1).toSeq.toDF("n_nationkey", "n_name", "n_regionkey"), lastEpoch)
      require(replayed.isEmpty, "replayed epoch was re-appended — exactly-once broken")
      GraftTable.forPath(s, dirT).toDF
      }
    }),

    "q11_stream_sink_native" -> ((s, dir) => {
      // the NATIVE sink registration: writeStream.format("graft") with a
      // pinned txnAppId streams nation in 3 micro-batches into a table the
      // SINK ITSELF creates on the first epoch; a post-failure replay of the
      // last epoch must be skipped (same exactly-once protocol as q8, but
      // through the StreamSinkProvider path instead of foreachBatch)
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val dirT = tmp("q11")
      val rows = read(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .as[(Int, String, Int)].collect()
      () => {
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Int, String, Int)]
      val query = input.toDF().toDF("n_nationkey", "n_name", "n_regionkey")
        .writeStream.format("graft")
        .option("checkpointLocation", tmp("q11ckpt"))
        .option("txnAppId", "q11app")
        .start(dirT)
      var lastEpoch = -1L
      try {
        rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
          input.addData(b.toIndexedSeq); query.processAllAvailable()
        }
        lastEpoch = query.lastProgress.batchId
      } finally query.stop()
      val replayed = graft.streaming.GraftSink.writeEpoch(dirT, "q11app")(
        rows.takeRight(1).toSeq.toDF("n_nationkey", "n_name", "n_regionkey"), lastEpoch)
      require(replayed.isEmpty, "replayed epoch was re-appended — exactly-once broken")
      GraftTable.forPath(s, dirT).toDF
      }
    }),

    "q22_stream_to_table" -> ((s, dir) => {
      // `writeStream.toTable("graft_cat.ns.t")` — the V2 StreamingWrite:
      // per-task parquet DataWriters stage each epoch under the table, the
      // driver registers the staged files atomically with the
      // SetTransaction(appId, epoch) watermark (TableWriter's pre-staged
      // seam — optimizeWrite/stats/bloom/OCC unchanged). Exactly-once is
      // proven the q11 way: a post-run replay of the last epoch through
      // the same watermark protocol must be skipped, not re-appended.
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val wh = catalogWarehouse(s)
      val rows = read(s, dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .as[(Int, String, Int)].collect()
      () => {
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.q22ns")
      s.sql("DROP TABLE IF EXISTS graft_cat.q22ns.nt") // re-measurement idempotence
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Int, String, Int)]
      val query = input.toDF().toDF("n_nationkey", "n_name", "n_regionkey")
        .writeStream
        .option("checkpointLocation", tmp("q22ckpt"))
        .option("txnAppId", "q22app")
        .toTable("graft_cat.q22ns.nt")
      var lastEpoch = -1L
      try {
        rows.grouped(math.max(1, rows.length / 3 + 1)).foreach { b =>
          input.addData(b.toIndexedSeq); query.processAllAvailable()
        }
        lastEpoch = query.lastProgress.batchId
      } finally query.stop()
      val tablePath = s"$wh/q22ns/nt"
      val replayed = graft.streaming.GraftSink.writeEpoch(tablePath, "q22app")(
        rows.takeRight(1).toSeq.toDF("n_nationkey", "n_name", "n_regionkey"), lastEpoch)
      require(replayed.isEmpty, "replayed epoch was re-appended — exactly-once broken")
      require(GraftTable.forPath(s, tablePath).history()
        .exists(_._2.operation == "STREAMING UPDATE"),
        "V2 streaming commits must record STREAMING UPDATE operations")
      s.table("graft_cat.q22ns.nt")
      }
    }),

    "q7_change_stream" -> ((s, dir) => {
      // TRUE streaming CDF consumption: committed change files arrive as
      // file-source micro-batches; the second commit lands while the stream
      // is live and must surface in a later batch (exactly-once append)
      val dirT = tmp("q7")
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'")) // v1
      () => {
      val name = "q7_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val query = graft.streaming.StreamingOps.readChangeStream(s, dirT)
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      try {
        query.processAllAvailable()
        TableOps.delete(t, Some("r_regionkey = 4"))                            // v2, stream live
        query.processAllAvailable()
      } finally query.stop()
      s.table(name).select(col("r_regionkey"), col("r_name"), col("_change_type"))
      }
    }),

    // ---- K: derived columns / key discovery ----
    "k3_find_composite_key" -> ((s, dir) => {
      import s.implicits._
      val t = GraftTable.create(s, tmp("k3"), read(s, dir, "supplier"))
      () => {
      val found = GraftHelpers.findCompositeKeyCandidate(t)
      Seq(found.mkString(",")).toDF("key_columns")
      }
    }),
    "k1_md5_surrogate" -> ((s, dir) => () => {
      GraftHelpers.withMD5Columns(read(s, dir, "customer"),
        List("c_name", "c_mktsegment"), "unique_id")
        .select("c_custkey", "unique_id")
    }),
    "k4_is_composite_key" -> ((s, dir) => {
      import s.implicits._
      val t = GraftTable.create(s, tmp("k4"), read(s, dir, "lineitem"))
      () => {
      val isKey = GraftHelpers.isCompositeKeyCandidate(t, List("l_orderkey", "l_linenumber"))
      val nameOnly = GraftHelpers.isCompositeKeyCandidate(t, List("l_returnflag"))
      Seq((isKey, nameOnly)).toDF("orderkey_linenumber_is_key", "returnflag_is_key")
      }
    }),

    // ---- M: table mutation operators ----
    "m2_scd2_upsert" -> ((s, dir) => {
      val customer = read(s, dir, "customer")
      val base = customer.select(
        col("c_custkey").as("pk"),
        col("c_mktsegment").as("segment"),
        lit(true).as("is_current"),
        lit(java.sql.Timestamp.valueOf("2019-01-01 00:00:00")).as("effective_time"),
        lit(null).cast("timestamp").as("end_time"))
      val t = GraftTable.create(s, tmp("m2"), base)
      val updates = customer.filter(col("c_custkey") % 4 === 0)
        .select(col("c_custkey").as("pk"),
          concat(col("c_mktsegment"), lit("_NEW")).as("segment"),
          lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("effective_time"))
        .union(customer.filter(col("c_custkey") % 100 === 0)
          .select((col("c_custkey") + 1000000).as("pk"), lit("FRESH").as("segment"),
            lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("effective_time")))
      () => {
      Type2Scd.upsert(t, updates, "pk", Seq("segment"))
      // timestamp_ntz output for the oracle compare (session TZ pinned UTC)
      t.toDF
        .withColumn("effective_time", col("effective_time").cast("timestamp_ntz"))
        .withColumn("end_time", col("end_time").cast("timestamp_ntz"))
      }
    }),
    "m3_kill_duplicates" -> ((s, dir) => {
      val part = read(s, dir, "part")
      val t = GraftTable.create(s, tmp("m3"),
        part.union(part.filter(col("p_partkey") % 7 === 0)))
      () => {
      GraftHelpers.killDuplicateRecords(t, Seq("p_partkey"))
      t.toDF
      }
    }),
    "m4_remove_duplicates_pk" -> ((s, dir) => {
      val customer = read(s, dir, "customer")
      val extras = customer.filter(col("c_custkey") % 5 === 0)
        .withColumn("c_custkey", col("c_custkey") + 10000000)
      val t = GraftTable.create(s, tmp("m4"), customer.union(extras))
      () => {
      GraftHelpers.removeDuplicateRecords(t, "c_custkey", Seq("c_name"))
      t.toDF
      }
    }),
    "m5_remove_duplicates" -> ((s, dir) => {
      val t = GraftTable.create(s, tmp("m5"),
        read(s, dir, "lineitem").select("l_returnflag", "l_linestatus"))
      () => {
      GraftHelpers.removeDuplicateRecords(t, Seq("l_returnflag", "l_linestatus"))
      t.toDF
      }
    }),
    "m6_validate_append" -> ((s, dir) => {
      val supplier = read(s, dir, "supplier")
      val t = GraftTable.create(s, tmp("m6"),
        supplier.select("s_suppkey", "s_name", "s_acctbal"))
      val appendDf = supplier.select((col("s_suppkey") + 10000).as("s_suppkey"), col("s_name"))
      () => {
      GraftHelpers.validateAppend(t, appendDf,
        requiredCols = List("s_suppkey", "s_name"), optionalCols = List("s_acctbal"))
      t.toDF
      }
    }),
    "m7_append_without_duplicates" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val t = GraftTable.create(s, tmp("m7"), orders.filter(col("o_orderkey") % 2 === 0))
      () => {
      GraftHelpers.appendWithoutDuplicates(t, orders, Seq("o_orderkey"))
      t.toDF
      }
    }),
    "m9_lineitem_merge" -> ((s, dir) => {
      // engine throughput showcase: upsert into the largest table — updates
      // touch ~1/10 of keys spread across files, plus an insert stream.
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data, so the
      // base is the min-quantity aggregate per key — the merge engine rejects
      // sources that match a target row more than once (SQL MERGE semantics).
      val li = read(s, dir, "lineitem")
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(min(col("l_quantity")).as("l_quantity"))
      val t = GraftTable.create(s, tmp("m9"), li)
      val source = li.filter(col("l_orderkey") % 10 === 0)
        .withColumn("l_quantity", col("l_quantity") + 1000)
        .unionByName(li.filter(col("l_orderkey") % 1000 === 7)
          .withColumn("l_orderkey", col("l_orderkey") + 100000000))
      () => {
      GraftMerge(t, "tgt")
        .merge(source, "tgt.l_orderkey = s.l_orderkey AND tgt.l_linenumber = s.l_linenumber", Some("s"))
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      t.toDF.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
      }
    }),
    "m10_merge_evolution" -> ((s, dir) => {
      // MERGE withSchemaEvolution: the source carries a column the target
      // lacks (region). The merge commit widens the schema — updated and
      // inserted rows take source values, every untouched row reads the new
      // column as NULL (old files are not rewritten for the widening).
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("m10"), base)
      val evolved = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"),
          col("n_name").as("name"), col("n_regionkey").cast("long").as("region"))
      val source = evolved.where(col("id") < 10)
        .select(col("id"), lower(col("name")).as("name"), col("region"))
        .unionByName(evolved.where(col("id") < 5)
          .select((col("id") + 1000).as("id"), col("name"), col("region")))
      () => {
      GraftMerge(t, "tgt")
        .merge(source, "tgt.id = s.id", Some("s"))
        .withSchemaEvolution()
        .whenMatchedUpdateAll()
        .whenNotMatchedInsertAll()
        .execute()
      GraftTable.forPath(s, t.path).toDF.select(col("id"), col("name"), col("region"))
      }
    }),
    "m8_copy_table" -> ((s, dir) => {
      val src = GraftTable.create(s, tmp("m8src"), read(s, dir, "nation"),
        partitionColumns = Seq("n_regionkey"))
      val dst = tmp("m8dst")
      () => {
      GraftHelpers.copyTable(src, targetPath = Some(dst))
      GraftTable.forPath(s, dst).toDF
        .select("n_nationkey", "n_name", "n_regionkey")
      }
    }),

    // ---- K2/V1: table-variant md5 + validator (driver-visible since r4) ----
    "k2_md5_table" -> ((s, dir) => {
      val t = GraftTable.create(s, tmp("k2"), read(s, dir, "customer"))
      () => {
      GraftHelpers.withMD5Columns(t, List("c_name", "c_mktsegment"), "unique_id")
        .select("c_custkey", "unique_id")
      }
    }),
    "v1_validate_columns" -> ((s, dir) => () => {
      import s.implicits._
      val df = read(s, dir, "customer")
      val existingPass =
        try { GraftValidator.validateColumnsExistsInDataFrame(Seq("c_custkey", "c_name"), df); true }
        catch { case _: Throwable => false }
      val missingPass =
        try { GraftValidator.validateColumnsExistsInDataFrame(Seq("c_custkey", "c_absent"), df); true }
        catch { case _: GraftValidationError => false }
      Seq((existingPass, missingPass)).toDF("existing_cols_pass", "missing_cols_pass")
    }),

    // ---- L: transaction-log analytics ----
    "l5_write_metrics_by_partition" -> ((s, dir) => {
      import s.implicits._
      val t = GraftTable.create(s, tmp("l5"), read(s, dir, "customer"),
        partitionColumns = Seq("c_mktsegment"))
      val helper = OperationMetricHelper(s, t.path)
      val segments = read(s, dir, "customer")
        .select("c_mktsegment").distinct().as[String].collect().sorted.toSeq
      () => {
      segments.map(seg =>
        (seg, helper.getWriteMetricByPartition(s"c_mktsegment = '$seg'", 0L)))
        .toDF("segment", "write_rows")
      }
    }),
    "l1_operation_metrics" -> ((s, dir) => {
      val dirT = tmp("l1")
      val t = GraftTable.create(s, dirT, read(s, dir, "nation"))
      TableOps.delete(t, Some("n_nationkey >= 20"))
      TableOps.update(t, Some("n_nationkey < 5"), Map("n_name" -> "upper(n_name)"))
      () => {
      OperationMetricHelper(s, dirT).getCountMetricsAsDF()
      }
    }),
    "l2_count_metrics_partition" -> ((s, dir) => {
      // partition-scoped metrics (L2 driving L5/L6/L7): the DELETE's recorded
      // predicate matches the asked partition and is counted; the UPDATE on a
      // DIFFERENT partition must be filtered out by the predicate validation;
      // the WRITE's insert count is re-derived from the partition's files
      val base = read(s, dir, "customer")
        .select(col("c_custkey").as("id"), col("c_mktsegment").as("seg"),
          col("c_acctbal").as("bal"))
      val t = GraftTable.create(s, tmp("l2"), base, partitionColumns = Seq("seg"))
      TableOps.delete(t, Some("seg = 'AUTOMOBILE'"))                        // v1
      TableOps.update(t, Some("seg = 'BUILDING'"), Map("bal" -> "bal + 1")) // v2
      () => {
      OperationMetricHelper(s, t.path).getCountMetricsAsDF(Some("seg = 'AUTOMOBILE'"))
      }
    }),

    // ---- C: change data feed ----
    "c1_cdf_read" -> ((s, dir) => {
      val dirT = tmp("c1")
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'"))
      TableOps.delete(t, Some("r_regionkey = 4"))
      import s.implicits._
      t.append(Seq((99, "ATLANTIS")).toDF("r_regionkey", "r_name")
        .select(col("r_regionkey").cast("int"), col("r_name")))
      () => {
      ChangeDataFeedHelper(s, dirT, 0, 3).readCDF
        .select(col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),
    "c12_cdf_reader_option" -> ((s, dir) => {
      // the PUBLIC reader-option shape of the batch CDF read (Delta parity):
      // same fixture and expected rows as c1, consumed through
      // spark.read.format("graft").option("readChangeFeed", "true")
      val dirT = tmp("c12")
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'"))
      TableOps.delete(t, Some("r_regionkey = 4"))
      import s.implicits._
      t.append(Seq((99, "ATLANTIS")).toDF("r_regionkey", "r_name")
        .select(col("r_regionkey").cast("int"), col("r_name")))
      () => {
      s.read.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .option("endingVersion", 3)
        .load(dirT)
        .select(col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),

    "c14_cdf_catalog_read" -> ((s, dir) => {
      // CDF by CATALOG IDENTIFIER: the same fixture and expected rows as
      // c12, consumed through spark.read.option("readChangeFeed", "true")
      // .table("graft_cat.ns.t") — the reader options ride the V2 relation
      // and the resolution rule swaps it onto the path form's batched CDF
      // relation (one CDF engine for both addressing modes)
      val wh = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.c14ns")
      val dirT = s"$wh/c14ns/region_t"
      TableWriter.deleteRecursively(java.nio.file.Paths.get(dirT)) // re-measurement idempotence
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'"))
      TableOps.delete(t, Some("r_regionkey = 4"))
      import s.implicits._
      t.append(Seq((99, "ATLANTIS")).toDF("r_regionkey", "r_name")
        .select(col("r_regionkey").cast("int"), col("r_name")))
      () => {
      s.read
        .option("readChangeFeed", "true")
        .option("startingVersion", 0)
        .option("endingVersion", 3)
        .table("graft_cat.c14ns.region_t")
        .select(col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),

    "q21_cdc_propagate" -> ((s, dir) => {
      // table-to-table CDC propagation: the graft stream source's change
      // feed (initial snapshot as inserts, then update/delete/append
      // commits) folds into a downstream table via streaming APPLY
      // CHANGES; the downstream converges to the upstream's live state.
      import s.implicits._
      val srcD = tmp("q21s")
      val dstD = tmp("q21d")
      val t = GraftTable.create(s, srcD, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'"))
      TableOps.delete(t, Some("r_regionkey = 4"))
      t.append(Seq((99, "ATLANTIS")).toDF("r_regionkey", "r_name")
        .select(col("r_regionkey").cast("int"), col("r_name")))
      GraftTable.createEmpty(s, dstD, t.snapshot.schema)
      () => {
      val q = graft.streaming.StreamingOps.propagateChanges(s, srcD, dstD,
        Seq("r_regionkey"),
        queryName = Some("q21_" + java.util.UUID.randomUUID().toString.replace("-", "")))
      try q.processAllAvailable() finally q.stop()
      GraftTable.forPath(s, dstD).toDF.select(col("r_regionkey"), col("r_name"))
      }
    }),

    "c13_apply_changes" -> ((s, dir) => {
      // APPLY CHANGES INTO (the DLT shape): a CDC feed of upserts + deletes
      // with a sequencing column folds into a downstream table — latest
      // sequence per key wins, delete beats upsert at an equal sequence,
      // and the stored upd_seq guards batch B's stale replay rows.
      import s.implicits._
      val dirT = tmp("c13")
      val n = read(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("k"), col("n_name").as("name"))
      GraftTable.create(s, dirT, n.withColumn("upd_seq", lit(0L)))
      val chA = n.filter(col("k") < 10)
          .select(col("k"), lower(col("name")).as("name"),
            lit(2L).as("upd_seq"), lit("upsert").as("op"))
        .unionByName(n.filter(col("k") < 10)
          .select(col("k"), lit("STALE").as("name"), lit(1L).as("upd_seq"), lit("upsert").as("op")))
        .unionByName(n.filter(col("k").between(20, 24))
          .select(col("k"), col("name"), lit(1L).as("upd_seq"), lit("delete").as("op")))
        .unionByName(n.filter(col("k") < 5)
          .select((col("k") + 100).as("k"), concat(col("name"), lit("_NEW")).as("name"),
            lit(1L).as("upd_seq"), lit("upsert").as("op")))
        .unionByName(Seq((999, "GHOST", 1L, "delete"), (15, "TIE_UPSERT", 3L, "upsert"),
          (15, "TIE_DEL", 3L, "delete")).toDF("k", "name", "upd_seq", "op"))
      val chB = n.filter(col("k") < 10)
          .select(col("k"), lit("MUST_NOT_APPLY").as("name"),
            lit(1L).as("upd_seq"), lit("upsert").as("op"))
        .unionByName(Seq((3, "B_WINS", 5L, "upsert")).toDF("k", "name", "upd_seq", "op"))
      () => {
      val t = GraftTable.forPath(s, dirT)
      operators.ApplyChanges.applyChanges(t, chA, Seq("k"), "upd_seq", Some("op = 'delete'"))
      operators.ApplyChanges.applyChanges(t, chB, Seq("k"), "upd_seq", Some("op = 'delete'"))
      t.toDF.select(col("k"), col("name"), col("upd_seq"))
      }
    }),

    "c5_cdf_status" -> ((s, dir) => {
      import s.implicits._
      // deterministic enable/disable toggle sequence (mirrors the reference's
      // CDF-status scenarios): statuses depend only on the commit sequence,
      // so a literal oracle pins the semantics driver-visibly
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("c5"), base,
        properties = Map(GraftLog.CdfProperty -> "true"))
      def up(suffix: String): Unit =
        GraftMerge(t, "old")
          .merge(base.limit(3).withColumn("name", concat(col("name"), lit(suffix))),
            "old.id = new.id", Some("new"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      up("_1")                                               // v1 enabled (cdc)
      t.setProperties(Map(GraftLog.CdfProperty -> "false"))  // v2 disabled
      up("_2")                                               // v3 disabled (no cdc)
      t.setProperties(Map(GraftLog.CdfProperty -> "true"))   // v4 enabled
      up("_3")                                               // v5 enabled (cdc)
      () => {
      ChangeDataFeedHelper(s, t.path, 0, 5).getAllVersionsWithCDFStatus
        .toDF("version", "cdf_enabled")
      }
    }),

    "c6_version_lists" -> ((s, dir) => {
      // C6 direct row (previously derived through c5/c8): the same
      // deterministic CDF toggle sequence, read back through the
      // enabled/disabled LIST entry points
      import s.implicits._
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("c6"), base,
        properties = Map(GraftLog.CdfProperty -> "true"))
      def up(suffix: String): Unit =
        GraftMerge(t, "old")
          .merge(base.limit(3).withColumn("name", concat(col("name"), lit(suffix))),
            "old.id = new.id", Some("new"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      up("_1")                                               // v1 enabled
      t.setProperties(Map(GraftLog.CdfProperty -> "false"))  // v2 disabled
      up("_2")                                               // v3 disabled
      t.setProperties(Map(GraftLog.CdfProperty -> "true"))   // v4 enabled
      up("_3")                                               // v5 enabled
      () => {
      val h = ChangeDataFeedHelper(s, t.path, 0, 5)
      (h.getAllCDFEnabledVersions.map(("enabled", _)) ++
        h.getAllCDFDisabledVersions.map(("disabled", _)))
        .toDF("kind", "version")
      }
    }),

    // ---- C2/C4/C8-C11: the failure-recovery family (driver-visible since
    // r7) — each scenario is deterministic, so recovered ranges, dry-run
    // outcomes and recovered row sets are literal/SQL-computable oracles ----
    "c2_dryrun" -> ((s, dir) => {
      import s.implicits._
      def outcome(body: => Unit): (String, String) =
        try { body; ("ok", "") } catch {
          case e: AssertionError => ("assertion", e.getMessage)
          case e: IllegalStateException => ("illegal_state", e.getMessage)
        }
      // fixture: all three scenario tables (~14 commits of metadata ops —
      // what polluted this query's bench line before the staged split)
      val healthy = cdfScenarioTable(s, dir, "c2a", dropCdcAt = Nil)
      val damaged = cdfScenarioTable(s, dir, "c2b", dropCdcAt = Seq(1L))
      val toggled = cdfToggleTable(s, dir, "c2c")
      () => {
      // 1: healthy range starting at a cdc-bearing version — dry run passes
      val r1 = outcome { ChangeDataFeedHelper(s, healthy, 1, 3).dryRun(); () }
      // 2: v1's change files vacuumed away — the CDC assert reports the
      // recovered range (our message prints the CDC range; the reference's
      // prints the log range there — a message-level quirk, not semantics)
      val r2 = outcome { ChangeDataFeedHelper(s, damaged, 1, 3).dryRun(); () }
      // 3: CDF disabled mid-range — the EDR-ranges assert trips
      val r3 = outcome { ChangeDataFeedHelper(s, toggled, 1, 5).dryRun(); () }
      // 4: no version in range has live change data — a helper returns None
      // and dryRun degrades to IllegalStateException
      val r4 = outcome { ChangeDataFeedHelper(s, damaged, 1, 2).dryRun(); () }
      Seq((1, r1._1, r1._2), (2, r2._1, r2._2), (3, r3._1, r3._2), (4, r4._1, r4._2))
        .toDF("case_id", "outcome", "message")
      }
    }),
    "c4_available_cdc" -> ((s, dir) => {
      import s.implicits._
      // change files of v1 deleted; the probe must skip the dead version and
      // recover (2, 3) — vacuum ordering guarantees later versions are intact
      val p = cdfScenarioTable(s, dir, "c4", dropCdcAt = Seq(1L))
      () => {
      val r = ChangeDataFeedHelper(s, p, 0, 3).getVersionsForAvailableCDC
        .getOrElse((-1L, -1L))
      Seq(r).toDF("cdc_start", "cdc_end")
      }
    }),
    "c8_cdf_ranges" -> ((s, dir) => {
      import s.implicits._
      val p = cdfToggleTable(s, dir, "c8")
      () => {
      val h = ChangeDataFeedHelper(s, p, 0, 5)
      val en = h.getRangesForCDFEnabledVersions.toList.flatten
        .map { case (a, b) => ("enabled", a, b) }
      val dis = h.getRangesForCDFDisabledVersions.toList.flatten
        .map { case (a, b) => ("disabled", a, b) }
      (en ++ dis).toDF("kind", "range_start", "range_end")
      }
    }),
    "c9_read_missing_log" -> ((s, dir) => {
      // log retention expiry: checkpoint v2's state, drop the raw log files
      // below it (vacuum deletes oldest-first) — the recovery read must fall
      // back to (2, 3) and still stamp/assemble rows from the surviving tail
      val dirT = tmp("c9")
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      TableOps.update(t, Some("r_regionkey = 0"), Map("r_name" -> "'EUROPA'")) // v1
      TableOps.update(t, Some("r_regionkey = 1"), Map("r_name" -> "'ZEPHYR'")) // v2
      import s.implicits._
      t.append(Seq((99, "ATLANTIS")).toDF("r_regionkey", "r_name")
        .select(col("r_regionkey").cast("int"), col("r_name")))                // v3
      t.log.writeCheckpoint(2L)
      graft.tables.Fs.deleteIfExists(t.log.versionFile(0L))
      graft.tables.Fs.deleteIfExists(t.log.versionFile(1L))
      () => {
      ChangeDataFeedHelper(s, dirT, 0, 3).readCDFIgnoreMissingDeltaLog.get
        .select(col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),
    "c10_read_missing_cdc" -> ((s, dir) => {
      val p = cdfScenarioTable(s, dir, "c10", dropCdcAt = Seq(1L))
      () => {
      ChangeDataFeedHelper(s, p, 0, 3).readCDFIgnoreMissingCDC.get
        .select(col("r_regionkey"), col("r_name"), col("_change_type"), col("_commit_version"))
      }
    }),
    "c3_log_versions" -> ((s, dir) => {
      import s.implicits._
      // the two entry points genuinely differ when a checkpoint survives
      // BELOW the oldest raw log file: raw availability starts at the raw
      // head (3), snapshot-state availability at the checkpoint (2)
      val dirT = tmp("c3")
      val t = GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(GraftLog.CdfProperty -> "true"))
      (0 to 3).foreach(k =>
        TableOps.update(t, Some(s"r_regionkey = $k"), Map("r_name" -> s"'N$k'"))) // v1..v4
      t.log.writeCheckpoint(2L)
      Seq(0L, 1L, 2L).foreach(v => graft.tables.Fs.deleteIfExists(t.log.versionFile(v)))
      () => {
      val h = ChangeDataFeedHelper(s, dirT, 0, 4)
      val raw = h.checkEarliestDeltaFileBetweenVersions.getOrElse((-1L, -1L))
      val ckpt = h.getVersionsForAvailableDeltaLog.getOrElse((-1L, -1L))
      Seq(("raw_log", raw._1, raw._2), ("checkpoint", ckpt._1, ckpt._2))
        .toDF("kind", "earliest", "latest")
      }
    }),
    "c11_read_edr" -> ((s, dir) => {
      // union read over the enabled ranges (0,1) and (4,5): the disabled
      // middle (v2 no-op metadata, v3 un-tracked merge) must vanish, and the
      // v5 preimages must reflect v3's untracked write (name_2 → name_3)
      val p = cdfToggleTable(s, dir, "c11")
      () => {
      ChangeDataFeedHelper(s, p, 0, 5).readCDFIgnoreMissingRangesForEDR.get
        .select(col("id"), col("name"), col("_change_type"), col("_commit_version"))
      }
    }),

    // ---- D: dedup pipeline (documents) ----
    "d1_dedup_exact" -> ((s, dir) => () => {
      Dedup.exact(read(s, dir, "documents"), Seq("text"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars")
    }),
    "d8_minhash_dedup" -> ((s, dir) => () => {
      // end-to-end LSH dedup (anti-join over the pair set): every qualifying
      // pair in the corpus has jaccard >= 0.9, so the default 16x4 banding
      // misses a pair with probability < 4e-8 — the exact-pair oracle applies
      Dedup.minhashDedup(read(s, dir, "documents"), "doc_id", "text", threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),
    "d9_dedup_clusters" -> ((s, dir) => () => {
      // transitive closure over the exact n-gram-jaccard pair set: every id
      // in a pair labeled with its component's MINIMUM id (min-label
      // propagation + pointer jumping); the oracle recomputes the closure
      // with a recursive reachability CTE over the identical pair set
      Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(read(s, dir, "documents"), "doc_id", "text",
          n = 3, threshold = 0.5),
        "idA", "idB")
        .select(col("id").as("doc_id"), col("cluster"))
    }),
    "d11_curation_pipeline" -> ((s, dir) => () => {
      // the end-to-end training-data curation funnel, composed entirely
      // from driver-checked operators: language-ID gate -> quality (word
      // count) gate -> transitive near-dup cluster dedup. The oracle
      // replays the identical funnel in SQL (t1's lang scores, t2's word
      // count, d10's reachability closure over the kept subset).
      val t = col("text")
      // widened before the scoring gates: langId/wsTokenCount are the
      // funnel's per-row CPU and evaluate below the pipeline's first
      // exchange (and again on the anti-join branch) — on a narrow scan
      // both passes would run one-core (no-op at production widths)
      val kept = graft.pipeline.Parallelize.widen(read(s, dir, "documents"))
        .withColumn("lang_pred", TextAnalysis.langId(t))
        .withColumn("words", TextAnalysis.wsTokenCount(t))
        .filter(col("lang_pred") === "en" && col("words") >= 20)
      Dedup.minhashDedupClusters(kept, "doc_id", "text", threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),

    "d10_dedup_cluster_survivors" -> ((s, dir) => () => {
      // cluster-complete dedup: ONE survivor per transitive near-dup cluster
      // (A~B~C keeps only min(A,B,C), closing the edge-wise gap of d8)
      Dedup.minhashDedupClusters(read(s, dir, "documents"), "doc_id", "text",
        threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),

    "d15_dedup_against" -> ((s, dir) => () => {
      // incremental-ingest dedup: odd-id docs are "today's batch", even-id
      // docs the accumulated reference corpus; a new doc survives iff it
      // near-duplicates (3-gram jaccard >= 0.5) NO reference doc. The
      // oracle recomputes the exact cross-corpus jaccard for all pairs;
      // the banding recall argument is d2/d8's (qualifying pairs in this
      // corpus sit at jaccard >= 0.9, missed with prob < 4e-8)
      val all = read(s, dir, "documents")
      Dedup.minhashDedupAgainst(
        all.filter(col("doc_id") % 2 === 1),
        all.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),
    "d19_weighted_mix" -> ((s, dir) => () => {
      // training-recipe source weights: keep 50% of en, 25% of de, 10% of
      // fr, drop everything else — one map-side filter, per-stratum
      // thresholds on the shared hash rank (oracle uses the identical
      // literal thresholds, computed by the same function)
      Sampling.hashSampleMix(read(s, dir, "documents"), "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.1), Seq("doc_id"))
        .select("doc_id", "lang", "source")
    }),
    "d20_epoch_upsampling" -> ((s, dir) => () => {
      // epochs-per-source upsampling: en docs 3x, de 2x, others once, each
      // copy tagged — downstream packing then treats copies as units
      Sampling.replicateByStratum(read(s, dir, "documents"), "lang",
        Map("en" -> 3, "de" -> 2))
        .select("doc_id", "lang", "copy")
    }),
    "d18_embedding_dedup_against" -> ((s, dir) => () => {
      // semantic incremental-ingest dedup, d7's injection trick crossed:
      // the "new batch" is exact copies of every 50th reference vector
      // (shifted ids, near-dups by construction) plus NEGATED copies of
      // every 50th-offset-25 vector (cosine -1, never a dup) — so the
      // survivor set is exactly the negated ids
      val emb = read(s, dir, "embeddings")
      val copies = emb.filter(col("vec_id") % 50 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      val negated = emb.filter(col("vec_id") % 50 === 25)
        .withColumn("vec_id", col("vec_id") + 200000)
        .withColumn("embedding", transform(col("embedding"), x => -x))
      Dedup.embeddingDedupAgainst(copies.unionByName(negated), emb,
        "vec_id", "embedding", threshold = 0.99)
        .select(col("vec_id"))
    }),
    "d17_dedup_keep_best" -> ((s, dir) => () => {
      // survivorship by QUALITY, not by id: each transitive near-dup
      // cluster keeps its longest doc (token count desc, id tiebreak); the
      // oracle replays the closure and the per-cluster argmax in SQL
      val docs = graft.pipeline.Parallelize.widen(read(s, dir, "documents"))
        .withColumn("tokens", TextAnalysis.bpeishTokenCount(col("text")))
      Dedup.minhashDedupClustersBest(docs, "doc_id", "text", "tokens",
        threshold = 0.5)
        .select("doc_id", "lang", "source")
    }),
    "d16_shard_builder" -> ((s, dir) => () => {
      // the full training-shard build, composed entirely from
      // driver-checked operators: language gate -> quality (word-count)
      // gate -> exact content dedup (min-id survivor per normalized
      // fingerprint) -> per-source stratified sample (corpus mixing) ->
      // token-budget shard packing. The oracle replays every stage in SQL.
      val t = col("text")
      // widened for the same reason as d11: the gate expressions run below
      // the first exchange
      val kept = graft.pipeline.Parallelize.widen(read(s, dir, "documents"))
        .withColumn("lang_pred", TextAnalysis.langId(t))
        .withColumn("words", TextAnalysis.wsTokenCount(t))
        .filter(col("lang_pred") === "en" && col("words") >= 20)
      val uniq = Dedup.exact(
        kept.withColumn("f", TextAnalysis.fingerprint(t)), Seq("f"), "doc_id")
      val samp = Sampling.stratifiedSample(uniq, "source",
        perStratum = 60, keyCols = Seq("doc_id"))
      val docs = samp.select(col("doc_id"), col("source"),
        TextAnalysis.bpeishTokenCount(col("text")).as("tokens"))
      Sampling.packByBudget(docs, "doc_id", "tokens",
        budget = 4000L, numBuckets = 4)
        .select("doc_id", "source", "tokens", "bucket", "shard")
    }),
    "d12_stratified_sample" -> ((s, dir) => () => {
      // deterministic per-language sample for corpus mixing: the 120
      // smallest md5-rank docs per lang (all docs of a smaller lang) —
      // uniform-hash threshold prefilter + exact window trim over the
      // surviving sliver; the oracle recomputes the same top-K-by-hash
      // with a plain window over the whole table
      Sampling.stratifiedSample(read(s, dir, "documents"), "lang",
        perStratum = 120, keyCols = Seq("doc_id"))
        .select("doc_id", "lang", "source")
    }),
    "d13_hash_sample" -> ((s, dir) => () => {
      // deterministic Bernoulli(0.25) sample — a pure map-side hash-range
      // filter (zero shuffles, no RNG): reproducible on any cluster size
      // and nested within any larger-fraction sample of the same seed
      Sampling.hashSample(read(s, dir, "documents"), Seq("doc_id"), 0.25)
        .select("doc_id", "lang", "source")
    }),
    "d14_pack_shards" -> ((s, dir) => () => {
      // token-budget shard packing (sequence-packing layout): docs land in
      // deterministic buckets (id mod 8), each bucket packs independently
      // into ~2000-token shards by exclusive running sum — numBuckets
      // parallel window sorts, no global sort
      val docs = read(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.bpeishTokenCount(col("text")).as("tokens"))
      Sampling.packByBudget(docs, "doc_id", "tokens",
        budget = 2000L, numBuckets = 8)
        .select("doc_id", "tokens", "bucket", "shard", "offset")
    }),

    // ---- T: text analysis (documents, via graft.pipeline.TextAnalysis) ----
    "t1_lang_id" -> ((s, dir) => () => {
      val t = col("text")
      val scoreCols = TextAnalysis.LangMarkers.map { case (l, p) =>
        TextAnalysis.langScore(t, p).as(s"${l}_score")
      }
      read(s, dir, "documents")
        .select(col("doc_id") +: TextAnalysis.langId(t).as("lang_pred") +: scoreCols: _*)
    }),
    "t2_quality_score" -> ((s, dir) => () => {
      val t = col("text")
      read(s, dir, "documents").select(
        col("doc_id"),
        length(t).cast("long").as("chars"),
        TextAnalysis.wsTokenCount(t).as("words"),
        TextAnalysis.punctCount(t).as("punct"),
        TextAnalysis.stopwordCount(t).as("stopwords"))
    }),
    "t3_token_count" -> ((s, dir) => () => {
      val t = col("text")
      read(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.wsTokenCount(t).as("ws_tokens"),
        TextAnalysis.bpeishTokenCount(t).as("bpeish_tokens"))
    }),
    "t4_fingerprint" -> ((s, dir) => () => {
      read(s, dir, "documents").select(
        col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fingerprint"))
    }),
    "t5_repetition_signals" -> ((s, dir) => () => {
      // Gopher-style repetition gate: two partial-agg shuffles, no UDFs
      TextAnalysis.repetitionSignals(read(s, dir, "documents"), "doc_id", "text")
    }),
    "t6_pii_redact" -> ((s, dir) => () => {
      // the corpus has no natural PII, so inject a deterministic email + IP
      // + phone per doc; counts and the redacted text are then
      // oracle-predictable (the same injection runs in the DuckDB SQL)
      val withPii = read(s, dir, "documents").withColumn("text",
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com from 10.0."),
          (col("doc_id") % 256).cast("string"), lit("."),
          (col("doc_id") % 100).cast("string"),
          lit(" tel +1-555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
      TextAnalysis.redactPii(withPii, "text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_phones"),
          md5(col("text")).as("redacted_md5"))
    }),
    "t7_vocab_stats" -> ((s, dir) => () => {
      TextAnalysis.vocabStats(read(s, dir, "documents"), "doc_id", "text", 50)
    }),

    "t8_frequent_tokens" -> ((s, dir) => () => {
      // Misra–Gries summary in its exact regime: capacity 64 > the ~31-token
      // corpus vocabulary, so every count is exact and max_error = 0 — the
      // DuckDB full group-by reproduces it verbatim. The approximate regime
      // (capacity < distinct) is property-spec'd (error bound + presence
      // guarantee), not oracle-checked: its counts are partitioning-defined.
      TextAnalysis.frequentTokens(read(s, dir, "documents"), "text", 64)
    }),
    "t9_length_quantiles" -> ((s, dir) => () => {
      // KLL-style mergeable quantile summary in its exact regime: per-lang
      // doc counts at the gate SF sit far under k = 8192, so no compaction
      // happens and every estimate is the discrete order statistic
      // sorted[ceil(p·n) − 1], which the DuckDB oracle reproduces with a
      // rank window. The compacting regime is property-spec'd (rank-error
      // bound) — its estimates are partitioning-defined, not oracle-able.
      // octet_length, not length: byte counts are engine-unambiguous.
      import graft.functions.GraftFunctions.{quantileSketch, sketchQuantile}
      read(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(quantileSketch(octet_length(col("text")), 8192).as("sk"),
          count(lit(1)).as("n_docs"))
        .select(col("lang"),
          sketchQuantile(col("sk"), 0.5).as("p50"),
          sketchQuantile(col("sk"), 0.9).as("p90"),
          sketchQuantile(col("sk"), 1.0).as("p100"),
          col("n_docs"))
    }),

    "t13_bpe_tokenize" -> ((s, _) => () => {
      // tokenizer inference as a GOLDEN-VALUE query: merges learned on the
      // even-id half of the seeded corpus tokenize the odd-id half
      // (rank-priority application, no shuffle). The merge loop is not
      // SQL-expressible, so the oracle pins the full deterministic output
      // as literal VALUES (see goldenDocs); BpeMergesSpec additionally
      // pins application semantics against a hand fold.
      val docs = goldenCorpus(s)
      TextAnalysis.bpeTokenize(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        TextAnalysis.learnBpeMerges(
          docs.filter(col("doc_id") % 2 === 0), "text", numMerges = 24))
    }),
    "t12_bpe_merges" -> ((s, _) => () => {
      // tokenizer training as a GOLDEN-VALUE query: greedy BPE merge
      // learning over the seeded corpus (iterations are vocab-sized, only
      // the word count touches the corpus). Iterative state is not
      // SQL-expressible — the oracle pins the deterministic merge table as
      // literal VALUES; BpeMergesSpec pins the algorithm against a
      // single-threaded reference on top.
      TextAnalysis.learnBpeMerges(goldenCorpus(s), "text", numMerges = 24)
    }),
    "t11_chunking" -> ((s, dir) => () => {
      // training-sequence chunking: 64-token windows, 8 tokens of carried
      // context. Pure per-row columnar work (no shuffle); the oracle
      // replays the token arithmetic with list slices.
      TextAnalysis.chunkDocuments(read(s, dir, "documents"),
        "doc_id", "text", maxTokens = 64, overlap = 8)
    }),
    "t10_ngram_lm_score" -> ((s, dir) => () => {
      // CCNet-style LM quality filter: bigram LM trained on the even-id
      // half of the corpus scores the odd-id half. Every per-bigram
      // probability is one IEEE division fixed-pointed to e9, so the
      // per-doc integer sums (and the derived rounded mean) are
      // bit-reproducible in DuckDB — see TextAnalysis.ngramLmScore.
      val docs = read(s, dir, "documents")
      TextAnalysis.ngramLmScore(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text")
    }),

    // ---- D: near-dup / similarity pipeline ----
    "d2_minhash_pairs" -> ((s, dir) => () => {
      // 32 bands × 2 rows: detection probability at jaccard 0.5 is
      // 1-(1-0.25)^32 ≈ 0.9999 — recall high enough to hash-match the exact
      // all-pairs oracle; candidates are exact-jaccard-verified (no FPs)
      Dedup.minhashLshPairs(read(s, dir, "documents"), "doc_id", "text",
        n = 3, numHashes = 64, bands = 32, threshold = 0.5)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "d4_ngram_jaccard_pairs" -> ((s, dir) => () => {
      Dedup.ngramJaccardPairs(read(s, dir, "documents"), "doc_id", "text",
        n = 3, threshold = 0.5)
        .select(col("idA"), col("idB"), round(col("jaccard"), 6).as("jaccard"))
    }),
    "d3_simhash_pairs" -> ((s, dir) => () => {
      // 32-bit md5-based simhash: reproducible in DuckDB, so the pairs get an
      // exact all-pairs bit_count(xor) oracle (pigeonhole banding = 100%
      // recall, so approximate candidate generation still matches exactly)
      Dedup.simhashPairs(read(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3, bits = 32, tokenHash = Dedup.md5TokenHash32)
        .select(col("idA"), col("idB"), col("hamming").cast("int").as("hamming"))
    }),
    "d30_ensemble_pairs" -> ((s, dir) => () => {
      // ensemble near-dup confirmation: a pair must clear BOTH the exact
      // 3-gram jaccard threshold AND the simhash hamming radius — the
      // two-signal vote real curation uses to cut single-signal false
      // positives. Both legs are already oracle-exact (d3/d4), so the
      // intersection is too; the join key is the tiny pair set, not the
      // corpus.
      val docs = read(s, dir, "documents")
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
        .join(
          Dedup.simhashPairs(docs, "doc_id", "text",
            maxHamming = 3, bits = 32, tokenHash = Dedup.md5TokenHash32),
          Seq("idA", "idB"))
        .select(col("idA"), col("idB"),
          round(col("jaccard"), 6).as("jaccard"),
          col("hamming").cast("int").as("hamming"))
    }),
    "d5_cosine_topk" -> ((s, dir) => () => {
      val emb = read(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),
    "d21_ivf_index" -> ((s, dir) => {
      // PERSISTED index: the k-means build + cell assignment land as graft
      // tables once (fixture); the measured query is only the probe — a
      // partition-pruned scan of the probed cells. nProbe = numCentroids
      // degenerates to exact, so d5/d6's DuckDB oracle applies verbatim.
      val dirT = tmp("d21")
      Similarity.buildIvfIndex(s,
        read(s, dir, "embeddings").filter(col("vec_id") >= 10),
        "vec_id", "embedding", dirT, numCentroids = 16)
      () => {
      Similarity.ivfTopKFromIndex(s, dirT,
        read(s, dir, "embeddings").filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, nProbe = 16)
        .select(col("query_id"), col("rank"), col("corpus_id"))
      }
    }),
    "d6_ivf_topk" -> ((s, dir) => () => {
      // nProbe = numCentroids probes every inverted list, so each
      // (query, corpus) pair is scored exactly once with the same cosine
      // expression as brute force — IVF degenerates to exact and d5's DuckDB
      // oracle applies verbatim. The approximate setting (nProbe = 4) keeps
      // its recall assertion in SimilaritySpec.
      val emb = read(s, dir, "embeddings")
      Similarity.ivfTopK(emb.filter(col("vec_id") >= 10), emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", 5, numCentroids = 16, nProbe = 16)
        .select(col("query_id"), col("rank"), col("corpus_id"))
    }),
    "d6_ivf_recall" -> ((s, dir) => () => {
      // the PRODUCTION IVF setting (nProbe = 8 of 16 lists — half the scan):
      // recall against d5's exact top-5 must stay >= 0.7. The synthetic
      // embeddings are near-UNIFORM on the sphere (no cluster structure), so
      // recall tracks the probed fraction (measured: 0.50 at 4/16, 0.74 at
      // 8/16, 1.0 at 16/16) — the worst case for IVF; clustered production
      // corpora sit far above this floor at the same probe cost. Fixed seed,
      // deterministic sample and init make the centroids — and therefore the
      // recall — exactly reproducible, so the boolean is driver-checkable.
      val emb = read(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 10)
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id")
      val approx = Similarity.ivfTopK(corpus, queries, "vec_id", "embedding", 5,
        numCentroids = 16, nProbe = 8)
        .select("query_id", "corpus_id")
      val (total, hits) = recallCounts(exact, approx, "d6_ivf_recall")
      import s.implicits._
      Seq((total, hits.toDouble / total >= 0.7))
        .toDF("exact_pairs", "recall_ok")
    }),

    "d24_contamination" -> ((s, dir) => () => {
      // eval docs built from the corpus itself: first 12 normalized tokens
      // of every 97th doc (contaminated prefix) + three unique suffix
      // tokens — so the gram-coverage fraction is a real mixed value the
      // DuckDB oracle reproduces exactly (string joins; the Spark side's
      // xxhash64 gram keys would need a 2^-64 collision to differ)
      val docs = read(s, dir, "documents")
      val evalDf = docs.filter(col("doc_id") % 97 === 0).select(
        col("doc_id"),
        concat(
          concat_ws(" ",
            slice(split(TextAnalysis.normalized(col("text")), " "), 1, 12)),
          lit(" zq"), col("doc_id").cast("string"), lit("a zq"),
          col("doc_id").cast("string"), lit("b zq"),
          col("doc_id").cast("string"), lit("c")).as("text"))
      Dedup.contaminationReport(docs, evalDf, "doc_id", "text", n = 3)
    }),
    "d25_model_score" -> ((s, dir) => () => {
      // integer-valued weights make the per-doc fold exact in any summation
      // order, so the set-ordered DuckDB SUM matches the sequential Spark
      // array fold bit-for-bit
      val weights = Array.tabulate(64)(i => ((i * 37 + 11) % 21 - 10).toDouble)
      read(s, dir, "documents")
        .select(col("doc_id"),
          round(TextAnalysis.hashedLinearScore(col("text"), weights), 6)
            .as("model_score"))
        .withColumn("keep", col("model_score") > 0)
    }),
    "d27_distinct_sketch" -> ((s, dir) => () => {
      // mergeable vocabulary cardinality: one HLL sketch per source (single
      // partial-agg pass each), then a corpus estimate by UNIONING the
      // sketches — no rescans. DataSketches HLL is deterministic for a
      // fixed input set, so the ±5% accuracy booleans are driver-checkable;
      // exactness is asserted Spark-side against countDistinct.
      val docs = read(s, dir, "documents")
      val sketches = TextAnalysis.distinctTokenSketches(docs, "source", "text")
      val exact = docs
        .select(col("source"),
          explode(split(TextAnalysis.normalized(col("text")), " ")).as("__t"))
        .filter(col("__t") =!= "")
        .groupBy("source").agg(countDistinct("__t").as("exact"))
      val perSource = sketches.join(exact, "source")
        .select(col("source"),
          (abs(col("estimate") - col("exact")).cast("double") / col("exact") <= 0.05)
            .as("estimate_ok"))
      import s.implicits._
      val unionEst = TextAnalysis.unionSketchEstimate(sketches)
      val globalExact = docs
        .select(explode(split(TextAnalysis.normalized(col("text")), " ")).as("__t"))
        .filter(col("__t") =!= "").distinct().count()
      perSource.unionByName(Seq(("__union__",
        math.abs(unionEst - globalExact).toDouble / globalExact <= 0.05))
        .toDF("source", "estimate_ok"))
    }),

    "d35_substring_spans" -> ((s, dir) => () => {
      // corpus-wide duplicated 12-token windows merged to maximal spans;
      // the canonical (smallest (doc,pos)) occurrence of each window is
      // kept unflagged, so every repeated passage survives exactly once
      Dedup.duplicatedSpans(read(s, dir, "documents"), "doc_id", "text", k = 12)
    }),

    "d29_substring_dedup" -> ((s, dir) => () => {
      // the rewrite half: covered tokens removed, survivors re-joined as
      // the normalized token stream; one row per input document
      Dedup.dedupSubstrings(read(s, dir, "documents"), "doc_id", "text", k = 12)
    }),

    "t16_corpus_report" -> ((s, dir) => () => {
      // the data-card datasheet: per-lang doc/token/char volumes, distinct
      // content fingerprints and the implied duplicate rate — one
      // aggregation pass, fixed-point ratios so every value is exact
      TextAnalysis.corpusReport(read(s, dir, "documents"))
    }),

    "t15_compression_signals" -> ((s, _) => () => {
      // Gopher-style compressibility filter signal (deflate ratio) as a
      // GOLDEN-VALUE query: DuckDB has no deflate, so the seeded corpus
      // (repetitive / natural / high-entropy regimes) makes the full
      // output a constant the oracle pins as literal VALUES; the ratio is
      // round(d/n·10⁴)/10⁴ — one correctly-rounded IEEE division, so the
      // literal parses to the identical double. CompressionSignalsSpec
      // pins the operator's behavior beyond the fixture.
      TextAnalysis.compressionSignals(goldenCorpus(s), "doc_id", "text")
    }),

    "t14_url_signals" -> ((s, dir) => () => {
      // URL provenance signals. The corpus carries no URL column, so the
      // fixture synthesizes one deterministic URL per doc (five shapes:
      // www host + deep path, two-level-suffix host + query, raw IPv4
      // host, bare apex with no path, non-http scheme); the oracle
      // replays the same RE2-safe regex extraction in SQL.
      TextAnalysis.urlSignals(urlFixture(s, dir), "doc_id", "url")
    }),

    "d34_temperature_mix" -> ((s, dir) => () => {
      // temperature-flattened mixing (alpha = 0.5): per-lang fractions
      // computed FROM the corpus counts. The oracle replays the arithmetic
      // bit-for-bit — fixed-point sqrt weights make the weight sum exact
      // and order-free, and the remaining ops are a pinned IEEE sequence.
      Sampling.temperatureMix(read(s, dir, "documents"), "lang",
        targetRows = 200L, keyCols = Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    "d33_curation_v2" -> ((s, dir) => () => {
      // provenance-aware curation funnel composed from this round's
      // operators: URL provenance gate (IP-host docs out) → per-domain cap
      // (anti-dominance) → language gate → exact content dedup →
      // token-budget shard packing. Each stage is individually
      // driver-verified (t14, d32, t1, d1/k-fingerprint, d14); the oracle
      // replays the whole composition (the URL stages by their
      // construction formulas — t14 pins the regex extraction itself).
      val docs = read(s, dir, "documents")
      val sig = TextAnalysis.urlSignals(urlFixture(s, dir), "doc_id", "url")
        .filter(!col("is_ip_host")).select(col("doc_id"), col("domain"))
      val gated = docs.join(sig, Seq("doc_id"))
      val capped = Sampling.stratifiedSample(gated, "domain",
        perStratum = 3, keyCols = Seq("doc_id"))
      val en = capped.filter(TextAnalysis.langId(col("text")) === "en")
      val uniq = Dedup.exact(
        en.withColumn("f", TextAnalysis.fingerprint(col("text"))), Seq("f"), "doc_id")
      val toks = uniq.select(col("doc_id"), col("domain"),
        TextAnalysis.bpeishTokenCount(col("text")).as("tokens"))
      Sampling.packByBudget(toks, "doc_id", "tokens", budget = 2000L, numBuckets = 4)
        .select("doc_id", "domain", "tokens", "bucket", "shard")
    }),

    "d32_domain_cap" -> ((s, dir) => () => {
      // per-domain document caps (the Common-Crawl curation rule: no
      // domain dominates the corpus): registered domains from the t14 URL
      // fixture, at most 3 docs kept per domain by the deterministic hash
      // rank — urlSignals composed with stratifiedSample, both already
      // oracle-verified on their own
      val sig = TextAnalysis.urlSignals(urlFixture(s, dir), "doc_id", "url")
        .select(col("doc_id"), col("domain"))
      Sampling.stratifiedSample(sig, "domain", 3, Seq("doc_id"))
    }),

    "d31_line_dedup" -> ((s, dir) => () => {
      // C4-style line-level boilerplate removal. The corpus docs are
      // single-line, so the fixture composes multi-line "pages" (5 docs
      // per page, doc order) and injects boilerplate: a header on every
      // page and a whitespace-variant footer on alternating pages — both
      // clear the minDocs=3 document frequency and vanish from every page;
      // content lines survive unless the corpus repeats them on >= 3 pages
      val pages = read(s, dir, "documents")
        .groupBy((col("doc_id") / 5).cast("long").as("page"))
        .agg(array_join(sort_array(collect_list(struct(col("doc_id"), col("text"))))
          .getField("text"), "\n").as("body"))
        .select(col("page"),
          concat(lit("SHARE THIS ARTICLE\n"), col("body"),
            when(col("page") % 2 === 0, lit("\n  COPYRIGHT 2024 EXAMPLE CORP  "))
              .otherwise(lit("\nCOPYRIGHT 2024 EXAMPLE CORP"))).as("text"))
      Dedup.lineDedup(pages, idCol = "page", minDocs = 3)
    }),

    "d26_bm25_topk" -> ((s, dir) => () => {
      // BM25-lite retrieval (log-free idf — every arithmetic step is an
      // IEEE-exact op, so the DuckDB oracle reproduces the score
      // bit-for-bit; see TextAnalysis.bm25Lite): top-10 docs for a fixed
      // three-term query, ties by doc_id
      TextAnalysis.bm25Lite(read(s, dir, "documents"), "doc_id", "text",
        Seq("scan", "merge", "window"))
        .orderBy(col("score").desc, col("doc_id")).limit(10)
    }),
    "d28_pq_index" -> ((s, dir) => {
      // PERSISTED PQ: codebooks + compressed codes land as graft tables
      // once (fixture); the measured query is only the ADC scan + rerank.
      // Same recall bound and determinism story as d23.
      val emb0 = read(s, dir, "embeddings")
      val corpus0 = emb0.filter(col("vec_id") >= 10)
      val dirT = tmp("d28")
      Similarity.buildPqIndex(s, corpus0, "vec_id", "embedding", dirT,
        m = 8, ksub = 16)
      val rr = math.max(100, (corpus0.count() / 5).toInt)
      () => {
      val emb = read(s, dir, "embeddings")
      val queries = emb.filter(col("vec_id") < 10)
      val exact = Similarity.bruteForceTopK(emb.filter(col("vec_id") >= 10),
        queries, "vec_id", "embedding", 5).select("query_id", "corpus_id")
      val approx = Similarity.pqTopKFromIndex(s, dirT, queries,
        "vec_id", "embedding", 5, rerank = rr)
        .select("query_id", "corpus_id")
      val (total, hits) = recallCounts(exact, approx, "d28_pq_index")
      import s.implicits._
      Seq((total, hits.toDouble / total >= 0.85))
        .toDF("exact_pairs", "recall_ok")
      }
    }),

    "d23_pq_recall" -> ((s, dir) => () => {
      // product quantization at m=8 × ksub=16 over 64 dims (32× compression)
      // with exact re-ranking of an ADC shortlist: recall vs the exact
      // top-5 must stay >= 0.85. Same worst-case caveat as d6 — the
      // synthetic corpus is near-uniform on the sphere, where recall tracks
      // the SHORTLIST FRACTION (measured at sf0.01: 0.24 with no rerank,
      // 0.76 at 10%, 0.92 at 20%), so the shortlist scales with the corpus
      // (clustered production embeddings hold recall at a fixed absolute
      // shortlist instead). Deterministic sample/init ⇒ driver-checkable.
      val emb = read(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 10)
      val queries = emb.filter(col("vec_id") < 10)
      val rr = math.max(100, (corpus.count() / 5).toInt) // ~20% of the corpus
      val exact = Similarity.bruteForceTopK(corpus, queries, "vec_id", "embedding", 5)
        .select("query_id", "corpus_id")
      val approx = Similarity.pqTopK(corpus, queries, "vec_id", "embedding", 5,
        m = 8, ksub = 16, rerank = rr)
        .select("query_id", "corpus_id")
      val (total, hits) = recallCounts(exact, approx, "d23_pq_recall")
      import s.implicits._
      Seq((total, hits.toDouble / total >= 0.85))
        .toDF("exact_pairs", "recall_ok")
    }),

    "d7_embedding_near_dup" -> ((s, dir) => () => {
      // the synthetic table has no natural near-dups (max pairwise cosine
      // ≈0.51), so inject exact copies under shifted ids: found pairs must be
      // exactly (id, id+100000) for id % 50 = 0
      val emb = read(s, dir, "embeddings")
      val dups = emb.filter(col("vec_id") % 50 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      Dedup.embeddingCosinePairs(emb.unionByName(dups), "vec_id", "embedding",
        threshold = 0.99, planes = 32, bands = 4)
        .select(col("idA"), col("idB"))
    }),
    "d22_semantic_dedup" -> ((s, dir) => () => {
      // SemDeDup over the same injected-copy fixture as d7: identical
      // vectors land in the same k-means cell by construction, so at
      // threshold 0.99 exactly the shifted-id copies are pruned (max
      // non-copy pairwise cosine ≈0.51) — survivors are the originals
      val emb = read(s, dir, "embeddings")
      val dups = emb.filter(col("vec_id") % 50 === 0)
        .withColumn("vec_id", col("vec_id") + 100000)
      Dedup.semanticDedup(emb.unionByName(dups), "vec_id", "embedding",
        threshold = 0.99, numClusters = 8)
        .select(col("vec_id"), col("label"))
    }),

    // ---- MM: multimodal plumbing (stubbed codec, real schema/batching) ----
    "mm1_multimodal_features" -> ((s, dir) => () => {
      // md5-derived payloads make byte_size AND the leading payload bytes
      // DuckDB-derivable, so the mapPartitions plumbing is oracle-checked
      val assets = Multimodal.synthesizeAssets(s, read(s, dir, "nation"), "n_nationkey")
      val feats = Multimodal.extractFeatures(Multimodal.rebalanceForDecode(assets, 4))
      feats.join(assets.select(col("asset_id"),
          substring(hex(col("payload")), 1, 16).as("payload_head")), "asset_id")
        .select("asset_id", "modality", "byte_size", "payload_head")
    }),

    "mm2_image_decode" -> ((s, dir) => () => {
      // REAL ImageIO decode: PNG payloads whose width/height/gray level are
      // pure integer functions of the id, so DuckDB predicts the decoded
      // output without any image library
      val assets = Multimodal.synthesizePngAssets(s, read(s, dir, "supplier"), "s_suppkey")
      Multimodal.extractImageFeatures(Multimodal.rebalanceForDecode(assets, 4))
        .select("asset_id", "width", "height", "mean_luma")
    }),

    "mm3_audio_decode" -> ((s, dir) => () => {
      // REAL AudioSystem decode: WAV/PCM-16 payloads whose sample rate,
      // frame count and RMS amplitude are pure integer functions of the id,
      // so DuckDB predicts the decoded output without any audio library
      val assets = Multimodal.synthesizeWavAssets(s, read(s, dir, "supplier"), "s_suppkey")
      Multimodal.extractAudioFeatures(Multimodal.rebalanceForDecode(assets, 4))
        .select("asset_id", "byte_size", "sample_rate", "channels", "num_frames", "rms_amp")
    }),

    "s12_bloom_skipping" -> ((s, dir) => {
      // per-file bloom indexes: keys (o_orderkey * 2, so odd values are
      // absent-but-in-range) written round-robin across 8 files — every
      // file's [min,max] spans the whole range, so ONLY the bloom can prune
      // a point lookup. Present key: <=3 of 8 files scanned (holder + rare
      // fps); absent key: <=1. Row counts are DuckDB-exact.
      import s.implicits._
      val base = read(s, dir, "orders")
        .select((col("o_orderkey") * 2).cast("long").as("key"), col("o_custkey"))
      // filter width scales with the keys per file (~rows/8): ~16 bits per
      // key keeps fp ≈ 1% at ANY scale factor — the default 2^16 bits
      // saturates once a file holds ≫5k distinct keys and the absent-key
      // probe would stop pruning
      val keysPerFile = math.max(1L, base.count() / 8)
      val bits = math.min(1L << 26,
        java.lang.Long.highestOneBit(math.max(1L << 16, keysPerFile * 16) - 1) << 1)
      val t = GraftTable.create(s, tmp("s12"), base.repartition(8),
        properties = Map(
          graft.tables.BloomIndex.ColumnsProperty -> "key",
          graft.tables.BloomIndex.BitsProperty -> bits.toString))
      () => {
      def scanned(cond: String): Int = {
        val cls = graft.tables.FileSkipping.classify(s, t.toDF, cond)
        graft.tables.FileSkipping.filesMatching(t.snapshot, cls.all,
          Some(graft.tables.BloomIndex.ProbeContext(s, t.path))).size
      }
      Seq((
        t.toDF.count(),
        t.toDF.filter(col("key") === 2468L).count(),
        t.toDF.filter(col("key") === 2469L).count(),
        t.snapshot.files.size,
        scanned("key = 2468") <= 3,
        scanned("key = 2469") <= 1))
        .toDF("total_rows", "present_rows", "absent_rows",
          "files_total", "present_scan_ok", "absent_skip_ok")
      }
    }),

    "m11_merge_by_source" -> ((s, dir) => {
      // WHEN NOT MATCHED BY SOURCE: the classic sync-merge — rows absent
      // from the source are deleted (id >= 20) or flagged stale, matched
      // rows take the source name; oracle recomputes the same state
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("m11"),
        base.withColumn("status", lit("live")))
      base.filter(col("id") < 15)
        .select(col("id"), concat(lit("U"), col("name")).as("name"))
        .createOrReplaceTempView("m11_src")
      graft.sql.GraftSql.sql(s,
        s"""MERGE INTO '${t.path}' AS tgt USING m11_src AS src ON tgt.id = src.id
           |WHEN MATCHED THEN UPDATE SET name = src.name
           |WHEN NOT MATCHED BY SOURCE AND tgt.id >= 20 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'""".stripMargin)
        .collect()
      GraftTable.forPath(s, t.path).toDF.select(col("id"), col("name"), col("status"))
      }
    }),

    "s24_cluster_by" -> ((s, dir) => {
      // graft.clusterBy (liquid-clustering-lite): a scattered 8-shard
      // supplier write re-bins RANGE-CLUSTERED on s_suppkey, so a point
      // probe skips files that a round-robin layout could not
      val base = read(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("id"), col("s_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("s24"), base.repartition(8),
        properties = Map(
          graft.tables.TableWriter.OptimizeWriteProperty -> "true",
          graft.tables.TableWriter.TargetFileSizeProperty -> "2048",
          graft.tables.TableWriter.ClusterByProperty -> "id"))
      val c = graft.tables.FileSkipping.classify(s, t.toDF, "id = 7")
      val kept = graft.tables.FileSkipping.filesMatching(t.snapshot, c.all, None).size
      t.toDF.select(col("id"), col("name"),
        lit(t.snapshot.numFiles > 1).as("multi_file"),
        lit(kept == 1).as("clustered_probe"))
      }
    }),

    "s23_sql_merge" -> ((s, dir) => {
      // MERGE INTO as SQL: conditional delete + update + insert in ONE
      // statement over the nation table, oracle recomputes the same state
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("s23"), base)
      base.filter(col("id") < 10)
        .select(col("id"), concat(lit("U"), col("name")).as("name"), lit(false).as("del"))
        .union(base.filter(col("id") >= 20 && col("id") < 25)
          .select(col("id"), col("name"), lit(true).as("del")))
        .union(base.filter(col("id") < 5)
          .select((col("id") + 100).as("id"), lit("new").as("name"), lit(false).as("del")))
        .createOrReplaceTempView("s23_src")
      graft.sql.GraftSql.sql(s,
        s"""MERGE INTO '${t.path}' AS tgt USING s23_src AS s ON tgt.id = s.id
           |WHEN MATCHED AND s.del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET name = s.name
           |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, s.name)""".stripMargin).collect()
      GraftTable.forPath(s, t.path).toDF.select(col("id"), col("name"))
      }
    }),

    "s22_sql_alter" -> ((s, dir) => {
      // ALTER TABLE SQL family: metadata-only ADD COLUMNS (existing rows
      // read null), SET TBLPROPERTIES round-tripped through SHOW
      val base = read(s, dir, "region")
        .select(col("r_regionkey").cast("long").as("id"), col("r_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("s22"), base)
      graft.sql.GraftSql.sql(s, s"ALTER TABLE '${t.path}' ADD COLUMNS (bonus BIGINT)").collect()
      graft.sql.GraftSql.sql(s, s"ALTER TABLE '${t.path}' SET TBLPROPERTIES ('graft.team' = 'data')").collect()
      val nProps = graft.sql.GraftSql.sql(s, s"SHOW TBLPROPERTIES '${t.path}'")
        .filter(col("key") === "graft.team" && col("value") === "data").count()
      GraftTable.forPath(s, t.path).toDF
        .select(col("id"), col("name"), col("bonus"), lit(nProps).as("n_props"))
      }
    }),

    "s21_convert" -> ((s, dir) => {
      // CONVERT TO GRAFT: a plain 4-shard parquet directory becomes a graft
      // table IN PLACE (metadata-only v0 referencing the existing files,
      // stats harvested) and reads back intact through the graft path
      val base = read(s, dir, "part")
        .select(col("p_partkey").cast("long").as("id"), col("p_name").as("name"))
      () => {
      val loc = tmp("s21")
      base.repartition(4).write.parquet(loc)
      val n = graft.sql.GraftSql.sql(s, s"CONVERT TO GRAFT '$loc'").collect().head.getLong(0)
      val t = GraftTable.forPath(s, loc)
      t.toDF.select(col("id"), col("name"),
        lit(n).as("n_files"), lit(t.version).as("version"))
      }
    }),

    "s38_protocol" -> ((s, dir) => {
      // table-features protocol (Delta's reader/writer gate): enabling
      // deletion vectors, an identity column and a CHECK constraint at
      // create upgrades the feature sets; a build lacking a declared
      // feature fails loudly instead of silently mis-reading (see
      // ProtocolSpec for the negative paths).
      val dirT = tmp("s38")
      GraftTable.create(s, dirT, read(s, dir, "region"),
        properties = Map(
          DeletionVectors.Property -> "true",
          "graft.identity.rid" -> "1,1",
          "graft.constraints.key_pos" -> "r_regionkey >= 0"))
      () => {
      val p = GraftTable.forPath(s, dirT).snapshot.protocol
      import s.implicits._
      Seq((p.minReaderVersion, p.minWriterVersion,
        p.readerFeatures.sorted.mkString(","), p.writerFeatures.sorted.mkString(",")))
        .toDF("min_reader", "min_writer", "reader_features", "writer_features")
      }
    }),

    "s37_log_cleanup" -> ((s, dir) => {
      // commit-log retention (Delta's metadata cleanup): version files
      // below the horizon are deleted after a covering checkpoint lands;
      // the live state, newer time travel, and writability all survive on
      // a log whose earliest file is now the horizon.
      import s.implicits._
      val dirT = tmp("s37")
      val t = GraftTable.create(s, dirT, read(s, dir, "nation"))                     // v0
      TableOps.update(t, Some("n_nationkey < 3"), Map("n_name" -> "lower(n_name)")) // v1
      t.append(Seq((99, "ATLANTIS")).toDF("n_nationkey", "n_name")
        .select(col("n_nationkey").cast("int"), col("n_name")))                      // v2
      TableOps.update(t, Some("n_nationkey = 5"), Map("n_name" -> "'FIVE'"))        // v3
      () => {
      TableOps.cleanupMetadata(GraftTable.forPath(s, dirT), 2)
      val t2 = GraftTable.forPath(s, dirT)
      t2.toDF.select(col("n_nationkey").cast("int").as("k"), col("n_name"))
        .withColumn("surviving_versions", lit(t2.log.versions().length))
      }
    }),

    "s36_identity" -> ((s, dir) => {
      // IDENTITY column (GENERATED BY DEFAULT AS IDENTITY in property
      // form): two appends lacking the column get dense generated ids
      // continuing across commits from the transactional high-water mark.
      // Single-partition sorted inputs pin the row→id mapping so the
      // oracle can replay it as a row_number over the key order.
      val dirT = tmp("s36")
      val n = read(s, dir, "nation")
        .select(col("n_nationkey").cast("int").as("k"), col("n_name").as("name"))
      () => {
      val t = GraftTable.create(s, dirT,
        n.filter(col("k") < 10).repartition(1).sortWithinPartitions("k"),
        properties = Map("graft.identity.id" -> "1000,2"))
      t.append(n.filter(col("k") >= 10).repartition(1).sortWithinPartitions("k"))
      GraftTable.forPath(s, dirT).toDF.select(col("id"), col("k"), col("name"))
      }
    }),

    "s33_column_defaults" -> ((s, dir) => {
      // graft.default.<col>: appends lacking the column fill the declared
      // default instead of the schema-merge null; provided values win
      val dirT = tmp("s33")
      val base = read(s, dir, "nation").select(
        col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, dirT,
        base.withColumn("status", lit("live")),
        properties = Map("graft.default.status" -> "'pending'"))
      () => {
      t.append(base.select((col("id") + 100).as("id"), col("name"))) // no status
      t.toDF
      }
    }),

    "s35_stats_backfill" -> ((s, dir) => {
      // ANALYZE: a foreign writer drops a parquet file into the table and
      // appends a bare AddFile (no stats) — realistic external-ingest
      // state. computeStats harvests the footer and re-adds the entry in a
      // metadata-only commit; afterwards EVERY live file carries stats, so
      // the stats-derived aggregates below equal the data itself.
      val dirT = tmp("s33")
      val nation = read(s, dir, "nation")
      val t = GraftTable.create(s, dirT, nation)
      val stage = tmp("s33stage")
      nation.select((col("n_nationkey") + lit(100L)).as("n_nationkey"),
          col("n_name"), col("n_regionkey"))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val destName = "foreign-" + part.getName
      java.nio.file.Files.copy(part.toPath, java.nio.file.Paths.get(dirT, destName))
      val snap0 = t.snapshot
      t.log.commit(snap0.version + 1, Seq(
        graft.tables.AddFile(path = destName, size = part.length()),
        graft.tables.CommitInfo(timestamp = System.currentTimeMillis(),
          operation = "WRITE")))
      () => {
      val t2 = GraftTable.forPath(s, dirT)
      val n = TableOps.computeStats(t2)
      val snap = t2.snapshot
      val stats = snap.files.flatMap(f => GraftLog.parseStats(f.stats))
      require(stats.size == snap.files.size,
        "computeStats left a file without stats")
      val minK = stats.flatMap(_.minValues.get("n_nationkey")).map(_.toLong).min
      val maxK = stats.flatMap(_.maxValues.get("n_nationkey")).map(_.toLong).max
      import s.implicits._
      Seq((n, stats.map(_.numRecords).sum, minK, maxK, t2.toDF.count()))
        .toDF("files_backfilled", "rows_from_stats", "min_key", "max_key", "table_rows")
      }
    }),
    "s32_type_widening" -> ((s, dir) => {
      // graft.enableTypeWidening: an (int, float) table takes a
      // (long, double) append — the schema widens losslessly and the OLD
      // parquet files upcast at scan (Spark 4 vectorized reader feature);
      // both generations must read back exactly
      val dirT = tmp("s32")
      val base = read(s, dir, "nation").select(
        col("n_nationkey").cast("int").as("id"),
        col("n_nationkey").cast("float").as("v"))
      val t = GraftTable.create(s, dirT, base,
        properties = Map(graft.tables.TableWriter.TypeWideningProperty -> "true"))
      () => {
      t.append(read(s, dir, "nation").select(
        (col("n_nationkey") + 100).cast("long").as("id"),
        (col("n_nationkey").cast("double") + 0.25d).as("v")))
      t.toDF
      }
    }),

    "s31_symlink_manifest" -> ((s, dir) => {
      // Trino/Presto interop: the symlink manifest's file list, read back
      // as PLAIN parquet (no graft reader), must reproduce the table rows
      val dirT = tmp("s31")
      val t = GraftTable.create(s, dirT, read(s, dir, "nation"))
      () => {
      val entries = TableOps.generateManifest(t)
      val uris = graft.tables.SymlinkManifest.entries(dirT)
      val rows = s.read.parquet(
        uris.map(u => java.nio.file.Paths.get(new java.net.URI(u)).toString): _*).count()
      import s.implicits._
      Seq((rows, entries == t.snapshot.files.size, entries >= 1))
        .toDF("rows_via_manifest", "matches_live", "nonempty")
      }
    }),

    "s30_metadata_count" -> ((s, dir) => {
      // the most common sanity query on a huge table: COUNT(*) must answer
      // from the commit log's numRecords (GraftMetadataOnlyAggregate rewrites
      // it to a LocalRelation — asserted from the optimized plan), zero
      // data I/O, and agree with the oracle's scan-based count
      val dirT = tmp("s30")
      GraftTable.create(s, dirT, read(s, dir, "customer"))
      () => {
      val cnt = s.read.format("graft").load(dirT).groupBy().count()
      val metadataOnly = cnt.queryExecution.optimizedPlan.collectFirst {
        case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      }.getOrElse(false)
      import s.implicits._
      Seq((cnt.first().getLong(0), metadataOnly)).toDF("row_count", "metadata_only")
      }
    }),

    "s34_metadata_minmax" -> ((s, dir) => {
      // min/max over int and string columns answered from per-file log
      // stats (GraftMetadataOnlyAggregate → LocalRelation, plan-asserted),
      // zero data I/O; values agree with the oracle's full scan
      val dirT = tmp("s33")
      GraftTable.create(s, dirT, read(s, dir, "customer"))
      () => {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      val agg = s.read.format("graft").load(dirT).agg(
        min(col("c_custkey")).as("min_key"), max(col("c_custkey")).as("max_key"),
        min(col("c_name")).as("min_name"), max(col("c_name")).as("max_name"),
        count(lit(1)).as("row_count"))
      val metadataOnly = agg.queryExecution.optimizedPlan.collectFirst {
        case _: LocalRelation => true
      }.getOrElse(false)
      agg.withColumn("metadata_only", lit(metadataOnly))
      }
    }),

    "s29_generated_columns" -> ((s, dir) => {
      // generated partition column o_year = year(o_orderdate): writers never
      // supply it — every append derives it inside the write projection and
      // the table partitions by it; the read back of a one-year slice must
      // match the oracle computing the same expression
      val dirT = tmp("s29")
      val orders = read(s, dir, "orders")
      val t = GraftTable.create(s, dirT,
        orders.limit(0), // schema-only create; data arrives via append
        partitionColumns = Seq("o_year"),
        properties = Map("graft.generated.o_year" -> "year(o_orderdate)"))
      () => {
      t.append(orders) // o_year computed, not provided
      t.toDF.filter(col("o_year") === 1995)
        .select(col("o_orderkey"), col("o_year"))
      }
    }),

    "s28_partition_evolution" -> ((s, dir) => {
      // supplier lands unpartitioned at v0, then evolves to PARTITION BY
      // s_nationkey in one commit: data survives, every live file carries a
      // single nation partition value, pre-evolution time travel replays
      // the old layout, and a nation filter prunes to the new directories
      val dirT = tmp("s28")
      val t = GraftTable.create(s, dirT, read(s, dir, "supplier"))
      () => {
      TableOps.repartitionTable(t, Seq("s_nationkey"))
      val snap = t.snapshot
      val cls = graft.tables.FileSkipping.classify(s, t.toDF, "s_nationkey = 3")
      val pruned = graft.tables.FileSkipping.filesMatching(snap, cls.all, None)
      import s.implicits._
      Seq(
        ("rows_total", t.toDF.count()),
        ("rows_nation_3", t.toDF.filter(col("s_nationkey") === 3).count()),
        ("partition_values",
          snap.files.flatMap(_.partitionValues.get("s_nationkey")).distinct.size.toLong),
        ("time_travel_v0_rows", t.toDFAt(0).count()),
        ("pruned_files_all_nation_3",
          if (pruned.nonEmpty &&
            pruned.forall(_.partitionValues.get("s_nationkey").contains("3"))) 1L else 0L)
      ).toDF("kind", "value")
      }
    }),

    "s26_deletion_vectors" -> ((s, dir) => {
      // merge-on-read DELETE (deletion vectors): the delete writes position
      // sidecars, never data bytes — every data file path survives the
      // delete unchanged (files_unchanged pins it) and the masked-row count
      // equals the predicate's cardinality (dv_rows); reads subtract the
      // positions via the anti-join leg, so the surviving rows match the
      // plain SQL complement exactly
      val base = read(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("id"),
          col("o_totalprice").as("price"))
      val t = GraftTable.create(s, tmp("s26"), base.repartition(4),
        properties = Map(graft.tables.DeletionVectors.Property -> "true"))
      () => {
      val before = t.snapshot.files.map(_.path).toSet
      TableOps.delete(t, Some("id % 4 = 1"))
      val t2 = GraftTable.forPath(s, t.path)
      val snap = t2.snapshot
      val unchanged = snap.files.map(_.path).toSet == before
      val dvRows = snap.files.flatMap(_.dv).map(_.cardinality).sum
      t2.toDF.select(col("id"), col("price"),
        lit(unchanged).as("files_unchanged"), lit(dvRows).as("dv_rows"))
      }
    }),

    "s20_sql_maintenance" -> ((s, dir) => {
      // SQL maintenance surface: OPTIMIZE + DESCRIBE HISTORY as SQL
      // statements (graft.sql.GraftSql / GraftSparkSessionExtension) — a
      // 5-shard region table compacts to one file via SQL and the history
      // statement reports the commits
      val base = read(s, dir, "region")
        .select(col("r_regionkey").cast("long").as("id"), col("r_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("s20"), base.repartition(5))
      val opt = graft.sql.GraftSql.sql(s, s"OPTIMIZE '${t.path}'").collect().head
      val nOps = graft.sql.GraftSql.sql(s, s"DESCRIBE HISTORY '${t.path}'")
        .filter(col("operation") === "OPTIMIZE").count()
      t.toDF.select(col("id"), col("name"),
        lit(opt.getLong(1)).as("n_removed"),
        lit(opt.getLong(2)).as("n_added"),
        lit(nOps).as("n_optimize"))
      }
    }),

    "s19_auto_compact" -> ((s, dir) => {
      // autoCompact: four 1-file appends cross minNumFiles=4, and the
      // follow-on OPTIMIZE commit leaves the table at ONE file with every
      // row intact — commit count no longer drives file count
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("s19"), base.filter(col("id") < 10).repartition(1),
        properties = Map(
          graft.tables.TableWriter.AutoCompactProperty -> "true",
          graft.tables.TableWriter.AutoCompactMinFilesProperty -> "4"))
      Seq(10L, 15L, 20L).foreach { lo =>
        t.append(base.filter(col("id") >= lo && col("id") < lo + 5).repartition(1))
      }
      t.toDF.select(col("id"), col("name"),
        lit(GraftTable.forPath(s, t.path).snapshot.numFiles).as("n_files"))
      }
    }),

    "s18_optimize_write" -> ((s, dir) => {
      // optimizeWrite table property: an 8-shard write of small data lands
      // as ONE right-sized file (file count tracks data size, not writer
      // parallelism) with every row intact
      val base = read(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("id"), col("s_name").as("name"))
      () => {
      val t = GraftTable.create(s, tmp("s18"), base.repartition(8),
        properties = Map(graft.tables.TableWriter.OptimizeWriteProperty -> "true"))
      t.toDF.select(col("id"), col("name"),
        lit(t.snapshot.numFiles).as("n_files"))
      }
    }),

    "s17_fsck" -> ((s, dir) => {
      // FSCK REPAIR: nation written sorted into 10-row files; the file
      // holding keys 0..9 is deleted OUT FROM UNDER the table (external
      // tampering), scans die, fsck drops the dangling reference in a
      // metadata-only commit, and the survivors read cleanly
      val dirT = tmp("s17")
      s.conf.set("spark.sql.files.maxRecordsPerFile", "10")
      val t =
        try GraftTable.create(s, dirT, read(s, dir, "nation")
          .select("n_nationkey", "n_name").orderBy("n_nationkey").coalesce(1))
        finally s.conf.unset("spark.sql.files.maxRecordsPerFile")
      () => {
      val cls = graft.tables.FileSkipping.classify(s, t.toDF, "n_nationkey <= 9")
      val victims = graft.tables.FileSkipping.filesMatching(t.snapshot, cls.all, None)
      require(victims.size == 1, s"sorted write should isolate keys 0..9, got ${victims.size}")
      graft.tables.Fs.deleteIfExists(GraftTable.resolveDataPath(t.path, victims.head.path))
      val dryCount = TableOps.fsck(t, dryRun = true).size
      TableOps.fsck(t)
      val t2 = GraftTable.forPath(s, t.path)
      t2.toDF.select(col("n_nationkey"), col("n_name"),
        lit(dryCount).as("n_missing"),
        lit(t2.history().head._2.operation).as("op"))
      }
    }),

    "s16_replace_where" -> ((s, dir) => {
      // replaceWhere (selective transactional overwrite, Delta's
      // `.option("replaceWhere", pred)`): swap the o_orderkey <= 1000
      // region of an orders-derived table for negated-price rows in ONE
      // commit — deletes and inserts land atomically with delete+insert
      // CDC. Result pins the merged rows, the single committed version,
      // and the change-row count (deletes + inserts of the region).
      val base = read(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("id"),
          col("o_totalprice").as("price"))
      val t = GraftTable.create(s, tmp("s16"), base.repartition(4),
        properties = Map(GraftLog.CdfProperty -> "true"))
      () => {
      val repl = base.where(col("id") <= 1000)
        .select(col("id"), (-col("price")).as("price"))
      repl.write.format("graft").mode("overwrite")
        .option("replaceWhere", "id <= 1000").save(t.path)
      val t2 = GraftTable.forPath(s, t.path)
      val changes = s.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", 1).option("endingVersion", 1)
        .load(t.path).count()
      t2.toDF.select(col("id"), col("price"),
        lit(t2.version).as("version"), lit(changes).as("n_changes"))
      }
    }),

    "s15_shallow_clone" -> ((s, dir) => {
      // zero-copy CLONE: the clone reads the SOURCE's files by absolute
      // reference, then diverges via a delete that rewrites only its own
      // referenced files — the source row count must be untouched
      val base = read(s, dir, "orders")
        .select(col("o_orderkey").cast("long").as("id"),
          col("o_totalprice").as("price"))
      val srcT = GraftTable.create(s, tmp("s15src"), base)
      () => {
      val clone = GraftTable.shallowClone(s, srcT.path, tmp("s15dst"))
      TableOps.delete(clone, Some("id % 2 = 0"))
      val srcRows = GraftTable.forPath(s, srcT.path).toDF.count()
      clone.toDF.select(col("id"), col("price"), lit(srcRows).as("src_rows"))
      }
    }),

    "s44_sql_shallow_clone" -> ((s, dir) => {
      // SQL + catalog SHALLOW CLONE: `CREATE TABLE graft_cat.ns.t SHALLOW
      // CLONE '<src>'` clones by catalog identifier (zero-copy, pointer
      // files), the clone mutates and VACUUMs at zero retention — and the
      // vacuum must never delete the SOURCE's files (they are external
      // references), so the source still reads complete afterwards
      val base = read(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"), col("c_acctbal").as("bal"))
      val srcT = GraftTable.create(s, tmp("s44src"), base)
      () => {
      val _ = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s44")
      graft.sql.GraftSql.sql(s,
        s"CREATE TABLE graft_cat.s44.clone_t SHALLOW CLONE '${srcT.path}'")
      val clone = GraftTable.forName(s, "graft_cat.s44.clone_t")
      TableOps.delete(clone, Some("id % 2 = 0")) // rewrites external refs to local files
      TableOps.vacuum(GraftTable.forName(s, "graft_cat.s44.clone_t"), 0.0)
      val srcRows = GraftTable.forPath(s, srcT.path).toDF.count() // survives the vacuum
      GraftTable.forName(s, "graft_cat.s44.clone_t").toDF
        .select(col("id"), col("bal"), lit(srcRows).as("src_rows"))
      }
    }),

    "q13_idempotent_write" -> ((s, dir) => {
      // Delta's txnAppId/txnVersion idempotent-write options: a replayed
      // batch write (same appId + version) is skipped, so the table holds
      // the source rows exactly once plus the later epoch's row
      import s.implicits._
      val base = read(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("id"), col("s_name").as("name"))
      val tdir = tmp("q13")
      () => {
      def w(v: Long, df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("graft").mode("append")
          .option("txnAppId", "loader").option("txnVersion", v).save(tdir)
      w(1, base)                                    // initial load
      w(1, base)                                    // restart replay: skipped
      w(2, Seq((-1L, "extra")).toDF("id", "name"))  // next epoch lands
      GraftTable.forPath(s, tdir).toDF.select("id", "name")
      }
    }),

    "s14_check_constraints" -> ((s, dir) => {
      // CHECK constraints: add one, verify a satisfying append lands, a
      // violating append is rejected with the constraint's name, and the
      // rejected write leaves NO trace (row count is exactly source + 1)
      import s.implicits._
      val base = read(s, dir, "customer")
        .select(col("c_custkey").cast("long").as("id"), col("c_name").as("name"))
      val t = GraftTable.create(s, tmp("s14"), base)
      () => {
      t.addCheckConstraint("pos_id", "id >= 0")
      t.append(Seq((900000001L, "good")).toDF("id", "name"))
      val rejected = quietExpectedFailure {
        try { t.append(Seq((-1L, "bad")).toDF("id", "name")); false }
        catch { case e: Exception =>
          Causes.messages(e).exists(_.contains("CHECK constraint pos_id")) }
      }
      val t2 = GraftTable.forPath(s, t.path)
      Seq((t2.toDF.count(), rejected, t2.checkConstraints.size.toLong))
        .toDF("rows_after", "violation_rejected", "num_constraints")
      }
    }),

    "s13_restore" -> ((s, dir) => {
      // RESTORE TABLE TO VERSION: build v0 from nation, damage it (delete +
      // schema-evolving append), restore to v0 — the restored rows must
      // hash-match the source table exactly, at version 3, via a RESTORE
      // commit
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("s13"), base)                   // v0
      () => {
      TableOps.delete(t, Some("id < 5"))                               // v1
      t.append(s.range(3).select((col("id") + 1000).as("id"),
        concat(lit("x"), col("id")).as("name"), col("id").as("extra"))) // v2
      val rv = TableOps.restore(t, 0L)
      val t2 = GraftTable.forPath(s, t.path)
      t2.toDF.select(col("id"), col("name"),
        lit(rv).as("version"),
        lit(t2.history().head._2.operation).as("op"))
      }
    }),

    "s11_zorder_skipping" -> ((s, dir) => {
      // OPTIMIZE ZORDER BY (o_orderkey, o_custkey): the scattered 8-file
      // write gives every file near-full min/max ranges on both columns
      // (no skipping possible); after z-ordering, a narrow range on EITHER
      // column must prune files, and the clustered table still returns
      // exactly the original rows (count-verified against the raw input).
      import s.implicits._
      val base = read(s, dir, "orders").select("o_orderkey", "o_custkey")
      // scale-relative probe bounds: max/60 and max/15 equal the original
      // literals (1000, 100) exactly at sf0.01 and stay ~equally SELECTIVE
      // at every sf — the old literals selected ~2/3 of the sf0.001 table,
      // where no layout can skip files and the gate was red by construction
      val bounds = base.agg(max(col("o_orderkey")), max(col("o_custkey"))).collect()(0)
      val keyBound = bounds.get(0).asInstanceOf[Number].longValue / 60
      val custBound = bounds.get(1).asInstanceOf[Number].longValue / 15
      val t = GraftTable.create(s, tmp("s11"), base.repartition(8))
      () => {
      TableOps.zorder(t, Seq("o_orderkey", "o_custkey"), numFiles = Some(8))
      val t2 = GraftTable.forPath(s, t.path)
      def scanned(cond: String): Int = {
        val cls = graft.tables.FileSkipping.classify(s, t2.toDF, cond)
        graft.tables.FileSkipping.filesMatching(t2.snapshot, cls.all,
          Some(graft.tables.BloomIndex.ProbeContext(s, t2.path))).size
      }
      Seq((
        t2.toDF.count(),
        t2.toDF.filter(col("o_orderkey") <= keyBound).count(),
        t2.toDF.filter(col("o_custkey") <= custBound).count(),
        t2.snapshot.files.size,
        scanned(s"o_orderkey >= 0 AND o_orderkey <= $keyBound") <= 6,
        scanned(s"o_custkey >= 0 AND o_custkey <= $custBound") <= 6))
        .toDF("total_rows", "key_range_rows", "cust_range_rows",
          "files_total", "key_skip_ok", "cust_skip_ok")
      }
    }),

    "mm4_video_decode" -> ((s, dir) => () => {
      // REAL video decode: an in-house RIFF/AVI container parser over
      // uncompressed-DIB payloads (the one codec-free video format) with
      // frame SAMPLING (stride 2). Dims, fps, frame count and each frame's
      // solid gray (= exact mean luma) are pure integer functions of the
      // id, so DuckDB predicts every sampled frame's row without any video
      // library. Compressed codecs stay out of scope (no ffmpeg in the
      // container) and fall back to the deterministic byte-stub.
      val assets = Multimodal.synthesizeAviAssets(s, read(s, dir, "supplier"), "s_suppkey")
      Multimodal.extractVideoFeatures(Multimodal.rebalanceForDecode(assets, 4), frameStride = 2)
        .select("asset_id", "width", "height", "fps", "num_frames", "frame_idx", "mean_luma")
    }),
    "mm5_image_near_dup" -> ((s, dir) => () => {
      // perceptual-hash image dedup end-to-end: REAL PNG decode → dHash →
      // EXACT chunk-banded hamming join (pigeonhole recall at ≤3 bits over
      // 4 chunks). The 9×8 two-tone pattern makes every hash an
      // id-determined formula value, so DuckDB replays decode + hash +
      // pairing with integer bit math alone.
      val ids = read(s, dir, "documents").select(col("doc_id"))
      val assets = Multimodal.synthesizePatternPngAssets(s, ids, "doc_id")
      Multimodal.imageNearDupPairs(assets, maxHamming = 3)
        .select(col("idA"), col("idB"), col("hamming"))
    }),
    "mm7_image_dedup_survivors" -> ((s, dir) => () => {
      // the SCALE composition: exact-hash collapse first (pairs never see
      // duplicate mass), hamming clustering over DISTINCT hashes, one
      // survivor per transitive cluster. The oracle replays hash + exact
      // groups + reachability closure over representative pairs.
      val ids = read(s, dir, "documents").select(col("doc_id"))
      val assets = Multimodal.synthesizePatternPngAssets(s, ids, "doc_id")
      Multimodal.imageDedup(assets, maxHamming = 3).select(col("asset_id"))
    }),
    "mm6_audio_near_dup" -> ((s, dir) => () => {
      // perceptual audio dedup: REAL WAV/PCM decode → 65-window envelope
      // hash → the same exact banded hamming join as mm5. The 65-sample
      // two-level pattern makes each hash a formula value for DuckDB.
      val ids = read(s, dir, "documents").select(col("doc_id"))
      val assets = Multimodal.synthesizePatternWavAssets(s, ids, "doc_id")
      Multimodal.audioNearDupPairs(assets, maxHamming = 3)
        .select(col("idA"), col("idB"), col("hamming"))
    }),

    // ---- S: file statistics / skipping introspection (table-layout checks) ----
    "s1_latest_version" -> ((s, dir) => {
      // S1 direct row (previously derived through s2): a known commit
      // sequence pins the returned version exactly
      import s.implicits._
      val base = read(s, dir, "region")
      val t = GraftTable.create(s, tmp("s1"), base)        // v0
      t.append(base.limit(2))                              // v1
      t.append(base.limit(1))                              // v2
      () => Seq(GraftHelpers.latestVersion(t.path)).toDF("latest_version")
    }),
    "s4_show_file_sizes" -> ((s, dir) => {
      // S4 capture-based oracle for the println wrapper: redirect Console,
      // parse the printed sentence, and assert its numbers agree with the
      // fileSizes map the same call formats — file count exact, humanized
      // sizes equality-checked (byte sizes are encoder-specific, so the
      // oracle pins the count + two booleans)
      import s.implicits._
      val sup = read(s, dir, "supplier")
        .withColumn("bucket", pmod(col("s_suppkey"), lit(4)).cast("long"))
      val t = GraftTable.create(s, tmp("s4"), sup.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        GraftHelpers.showFileSizes(t)
      }
      val line = buf.toString("UTF-8").trim
      val re = """has (\d+) files totalling (.+) \(average (.+)\)\.""".r.unanchored
      val (nf, tot, avg) = line match {
        case re(a, b, c) => (a.toLong, b, c)
        case _           => (-1L, line, "")
      }
      val m = GraftHelpers.fileSizes(t)
      Seq((nf,
        tot == GraftHelpers.humanizeBytes(m("size_in_bytes")),
        avg == GraftHelpers.humanizeBytes(m("average_file_size_in_bytes"))))
        .toDF("files_printed", "total_matches", "avg_matches")
      }
    }),
    "s2_file_sizes" -> ((s, dir) => {
      // deterministic layout: partition by s_suppkey % 4 from one write task
      // → exactly one file per bucket, per-file record counts derivable in
      // SQL; fileSizes()' file count is oracle-checked exactly
      val sup = read(s, dir, "supplier")
        .withColumn("bucket", pmod(col("s_suppkey"), lit(4)).cast("long"))
      val t = GraftTable.create(s, tmp("s2"), sup.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val m = GraftHelpers.fileSizes(t)
      t.filesDF.select(
        col("partitionValues")("bucket").cast("long").as("bucket"),
        col("numRecords").as("num_records"),
        lit(m("number_of_files").toLong).as("number_of_files"),
        lit(GraftHelpers.latestVersion(t.path)).as("version"))
      }
    }),
    "s5_size_distribution" -> ((s, dir) => {
      // one write task + partitionBy → exactly one file per partition, so
      // every per-partition size distribution is DEGENERATE: 1 file,
      // mean=min=max, undefined stddev, all-equal percentiles. Byte sizes
      // are encoder-specific, so the oracle pins the degenerate SHAPE
      // (exact booleans) plus the exact file count.
      val sup = read(s, dir, "supplier")
        .withColumn("bucket", pmod(col("s_suppkey"), lit(4)).cast("long"))
      val t = GraftTable.create(s, tmp("s5"), sup.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val d = GraftHelpers.fileSizeDistribution(t)
      val pct = d("Percentile[10th, 25th, Median, 75th, 90th, 95th]")
      d.select(
        element_at(col("partitionValues"), 1)("value").cast("long").as("bucket"),
        col("num_of_parquet_files"),
        (col("mean_size_of_files") === col("min_size_of_files") &&
          col("min_size_of_files") === col("max_size_of_files") &&
          col("min_size_of_files") > 0).as("degenerate_range"),
        (col("stddev").isNull || isnan(col("stddev"))).as("stddev_degenerate"),
        (array_min(pct) === array_max(pct)).as("percentiles_degenerate"))
      }
    }),
    "s6_size_distribution_mb" -> ((s, dir) => {
      // the MB variant must agree with the byte variant exactly (divide by
      // 2^20 is lossless in doubles) — cross-checks two REAL operator
      // outputs against each other, reduced to an oracle-stable boolean
      val sup = read(s, dir, "supplier")
        .withColumn("bucket", pmod(col("s_suppkey"), lit(4)).cast("long"))
      val t = GraftTable.create(s, tmp("s6"), sup.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val bucket = element_at(col("partitionValues"), 1)("value").cast("long").as("bucket")
      val bytes = GraftHelpers.fileSizeDistribution(t)
        .select(bucket, col("mean_size_of_files"))
      val mb = GraftHelpers.fileSizeDistributionInMB(t)
        .select(bucket, col("num_of_parquet_files"), col("mean_size_of_files_in_mb"))
      mb.join(bytes, "bucket").select(
        col("bucket"),
        col("num_of_parquet_files"),
        (col("mean_size_of_files_in_mb") * lit(1024d * 1024d) ===
          col("mean_size_of_files")).as("mb_matches_bytes"))
      }
    }),
    "s7_record_distribution" -> ((s, dir) => {
      // record counts (unlike byte sizes) are fully engine-independent:
      // with one file per partition the whole distribution collapses to the
      // per-bucket row count, which DuckDB computes exactly
      val sup = read(s, dir, "supplier")
        .withColumn("bucket", pmod(col("s_suppkey"), lit(4)).cast("long"))
      val t = GraftTable.create(s, tmp("s7"), sup.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val d = GraftHelpers.numRecordDistribution(t)
      val pct = d("Percentile[10th, 25th, Median, 75th, 90th, 95th]")
      d.select(
        element_at(col("partitionValues"), 1)("value").cast("long").as("bucket"),
        col("num_of_parquet_files"),
        col("mean_num_records_in_files").cast("long").as("mean_records"),
        col("min_num_records_in_files").cast("long").as("min_records"),
        col("max_num_records_in_files").cast("long").as("max_records"),
        element_at(pct, 3).cast("long").as("median_records"))
      }
    }),

    // ---- C7/L8: pure functions pinned to the reference's exact outputs ----
    "c7_group_versions" -> ((s, dir) => {
      import s.implicits._
      // literal oracle: the reference's grouping semantics bug-for-bug,
      // including the isolated-head (head, -1) quirk
      // (reference ChangeDataFeedHelperSpec.scala:123,139)
      val t = GraftTable.create(s, tmp("c7"), Seq((1, "a")).toDF("id", "name"))
      val h = ChangeDataFeedHelper(s, t.path, 0, 0)
      () => {
      val inputs = Seq(
        1 -> List(0L, 1L, 2L, 7L, 8L, 12L, 13L),
        2 -> List(5L, 9L, 10L),
        3 -> List(3L, 4L),
        4 -> List(5L))
      inputs.flatMap { case (id, vs) =>
        h.groupVersionsInclusive(vs) match {
          case None     => Seq((id, -100L, -100L))
          case Some(rs) => rs.map { case (a, b) => (id, a, b) }
        }
      }.toDF("case_id", "range_start", "range_end")
      }
    }),
    "l8_split_condition" -> ((s, dir) => () => {
      import s.implicits._
      // pure condition parser (reference OperationMetricHelperSpec.scala:99-105):
      // plain, attribute-id-suffixed (#590) and qualified column forms
      val h = OperationMetricHelper(s, "/nonexistent-l8")
      val conds = Seq(
        1 -> "country = 'USA' and gender = Female",
        2 -> "country#590 = USA",
        3 -> "tbl.country = 'IND'")
      conds.flatMap { case (id, c) =>
        h.splitConditionTo(c).toSeq.sortBy(_._1).map { case (k, v) => (id, k, v) }
      }.toDF("case_id", "key", "value")
    }),
    "s3_humanize_bytes" -> ((s, dir) => () => {
      import s.implicits._
      // pure function pinned to literal outputs (reference DeltaHelpers
      // humanize thresholds at 0.9e3..0.9e15, one decimal, sign-preserving)
      val inputs = Seq(0d, 512d, 1234d, 999999d, 5.5e6, 3.2e9, 1.7e12, 2.5e15, -1234d)
      inputs.zipWithIndex.map { case (b, i) => (i + 1, GraftHelpers.humanizeBytes(b)) }
        .toDF("case_id", "humanized")
    }),
    "s10_storage_location" -> ((s, dir) => {
      import s.implicits._
      val t = GraftTable.create(s, tmp("s10"), read(s, dir, "region"))
      () => {
      val loc = GraftHelpers.getStorageLocation(t)
      Seq((loc == t.path, loc.nonEmpty)).toDF("location_matches_path", "location_nonempty")
      }
    }),
    "s9_shuffle_file_metadata" -> ((s, dir) => {
      import s.implicits._
      // same deterministic contiguous-key layout as s8, but surfacing the
      // per-bucket FILE LISTS: the surviving files' partition buckets are
      // derivable from the data, and the equality/left-over buckets (no
      // conjunct of that class in the condition) keep every file
      val orders = read(s, dir, "orders")
      val maxKey = orders.agg(max(col("o_orderkey")).cast("long")).first().getLong(0)
      val width = maxKey / 8 + 1
      val bucketed = orders.withColumn("bucket",
        (col("o_orderkey").cast("long") / width).cast("long"))
      val t = GraftTable.create(s, tmp("s9"), bucketed.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val (overall, minMax, equalsF, leftOver, unresolvedF, filesDF, unresolvedCols) =
        GraftHelpers.getShuffleFileMetadata(t, "o_orderkey >= 100 AND o_orderkey <= 200")
      def buckets(fs: Seq[AddFile], kind: String): Seq[(String, Long)] =
        fs.map(f => (kind, f.partitionValues("bucket").toLong))
      (buckets(overall, "overall") ++ buckets(minMax, "minMax") ++ Seq(
        ("equals_files", equalsF.size.toLong),
        ("leftover_files", leftOver.size.toLong),
        ("unresolved_files", unresolvedF.size.toLong),
        ("files_df_rows", filesDF.count()),
        ("unresolved_columns", unresolvedCols.size.toLong)))
        .toDF("kind", "value")
      }
    }),
    "s27_distributed_checkpoint" -> ((s, dir) => {
      // executor-rendered checkpoint: after the distributed writer runs,
      // the stock driver fold must replay from the new sidecar alone and
      // the table must read back exactly (oracle recomputes the surviving
      // rows); line-set parity with the driver writer is spec-pinned
      val dirT = tmp("s26")
      val t = GraftTable.create(s, dirT,
        read(s, dir, "supplier").repartition(4, col("s_suppkey")))
      TableOps.delete(GraftTable.forPath(s, dirT), Some("s_suppkey % 3 = 0"))
      () => {
      graft.tables.DistributedSnapshot.writeCheckpoint(s, dirT)
      val log = new GraftLog(dirT)
      val ckptAtLatest = log.checkpointVersions().contains(log.latestVersion())
      GraftTable.forPath(s, dirT).toDF
        .select(col("s_suppkey"), col("s_name"), lit(ckptAtLatest).as("ckpt_at_latest"))
      }
    }),

    "s25_distributed_snapshot" -> ((s, dir) => {
      import s.implicits._
      // executor-side log fold + prune (DistributedSnapshot) must agree
      // with the driver snapshot on a table with appends, a file-level
      // delete, and a DV remove+re-add in its history
      val dirT = tmp("s25")
      val t = GraftTable.create(s, dirT,
        read(s, dir, "nation").repartition(4, col("n_nationkey")),
        properties = Map(graft.tables.DeletionVectors.Property -> "true"))
      TableOps.delete(GraftTable.forPath(s, dirT), Some("n_nationkey >= 20"))
      () => {
      val tt = GraftTable.forPath(s, dirT)
      val snap = tt.snapshot
      def key(fs: Seq[AddFile]) =
        fs.map(f => (f.path, f.size, f.dv.map(d => (d.path, d.cardinality)))).toSet
      val dist = graft.tables.DistributedSnapshot.addFiles(s, dirT)
      val cls = graft.tables.FileSkipping.classify(s, tt.toDF, "n_nationkey = 5")
      val prunedDriver = graft.tables.FileSkipping.filesMatching(snap, cls.all, None)
      val prunedDist =
        graft.tables.DistributedSnapshot.prunedFiles(s, dirT, "n_nationkey = 5")
      val emptyDist = graft.tables.DistributedSnapshot
        .prunedFiles(s, dirT, "n_nationkey > 10 AND n_nationkey < 5")
      val liveRows = tt.toDF.count()
      Seq((key(dist) == key(snap.files), key(prunedDist) == key(prunedDriver),
        emptyDist.isEmpty, liveRows))
        .toDF("dist_matches_driver", "prune_matches_driver",
          "contradiction_empty", "live_rows")
      }
    }),

    "s39_parquet_checkpoint" -> ((s, dir) => {
      import s.implicits._
      // multi-part parquet checkpoint (graft.checkpoint.format=parquet):
      // file actions land in a columnar dir sidecar — bounded-size
      // objects, column-prunable — with only the O(1) head actions in the
      // JSON; the enabling write brands the parquetCheckpoint reader
      // feature so old builds fail loudly. Both writers (driver codec and
      // executor-rendered parts) and both readers (driver fold and the
      // splittable executor fold) must agree on one truth; the oracle
      // recomputes the surviving rows
      val dirT = tmp("s39")
      GraftTable.create(s, dirT,
        read(s, dir, "customer").repartition(4, col("c_custkey")),
        properties = Map(GraftLog.CheckpointFormatProperty -> "parquet"))
      TableOps.delete(GraftTable.forPath(s, dirT), Some("c_custkey % 5 = 0"))
      () => {
      val log = new GraftLog(dirT)
      val v = log.latestVersion()
      log.writeCheckpoint(v) // driver writer
      val pdirExists = graft.tables.Fs.isDirectory(log.checkpointParquetDir(v))
      val headNoAdds = {
        val it = graft.tables.Fs.readLines(log.checkpointFile(v)).iterator
        var anyAdd = false
        while (it.hasNext) if (it.next().startsWith("{\"add\"")) anyAdd = true
        !anyAdd
      }
      def key(fs: Seq[AddFile]) = fs.map(f => (f.path, f.size)).toSet
      val driverFold = key(log.snapshot(v).files)
      val distFold = key(graft.tables.DistributedSnapshot.addFiles(s, dirT, v))
      // publication is first-writer-wins: drop the driver's sidecars so the
      // EXECUTOR-rendered layout genuinely lands for the second fold
      log.deleteCheckpoint(v)
      graft.tables.DistributedSnapshot.writeCheckpoint(s, dirT, v) // executor writer
      val distFold2 = key(graft.tables.DistributedSnapshot.addFiles(s, dirT, v))
      val featured = log.snapshot(v).protocol.readerFeatures.contains("parquetCheckpoint")
      val liveRows = GraftTable.forPath(s, dirT).toDF.count()
      Seq((pdirExists, headNoAdds, driverFold == distFold, distFold == distFold2,
        featured, liveRows))
        .toDF("parquet_dir", "head_no_adds", "folds_agree", "writers_agree",
          "feature_branded", "live_rows")
      }
    }),

    "s40_catalog_roundtrip" -> ((s, dir) => {
      // the V2 TableCatalog plugin end-to-end in plain spark.sql: CTAS,
      // INSERT, MERGE (graft SQL surface on the catalog identifier), then a
      // SELECT that resolves through the catalog onto the native scan path.
      // The oracle replays the same mutations over the source parquet.
      // Requires the graft session extension (registered in Verify/Bench's
      // builders — the production session shape).
      val wh = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.vns")
      read(s, dir, "nation").createOrReplaceTempView("s40_nation_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.vns.nation_t")
      s.sql("CREATE TABLE graft_cat.vns.nation_t AS " +
        "SELECT n_nationkey, n_name, n_regionkey FROM s40_nation_src")
      s.sql("INSERT INTO graft_cat.vns.nation_t " +
        "SELECT CAST(900 AS INT), 'ATLANTIS', CAST(0 AS INT) " +
        "UNION ALL SELECT CAST(901 AS INT), 'ELBONIA', CAST(1 AS INT)")
      s.sql("SELECT n_nationkey AS k, concat('X_', n_name) AS nn " +
        "FROM s40_nation_src WHERE n_regionkey = 2")
        .createOrReplaceTempView("s40_upd")
      graft.sql.GraftSql.sql(s,
        "MERGE INTO graft.`graft_cat.vns.nation_t` AS t USING s40_upd AS u " +
          "ON t.n_nationkey = u.k WHEN MATCHED THEN UPDATE SET t.n_name = u.nn")
      () =>
      s.sql("SELECT n_nationkey, n_name, n_regionkey FROM graft_cat.vns.nation_t")
    }),

    "s41_native_row_level_sql" -> ((s, dir) => {
      // Spark's OWN row-level grammar on a V2 catalog identifier: native
      // UPDATE, a 3-clause MERGE (delete/update/insert with same-named
      // columns on both sides), and a DELETE whose condition no V1 filter
      // can express — all converted by GraftRowLevelRewrite into the one
      // commit-log merge/update/delete engine (the reference world's
      // native-MERGE-on-metastore-tables ergonomics). The oracle replays
      // the same mutations relationally over the raw supplier table.
      val wh = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.rlns")
      read(s, dir, "supplier").createOrReplaceTempView("s41_supp_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.rlns.supp_t")
      s.sql("CREATE TABLE graft_cat.rlns.supp_t AS " +
        "SELECT s_suppkey, s_name, s_acctbal FROM s41_supp_src")
      s.sql("UPDATE graft_cat.rlns.supp_t SET s_acctbal = s_acctbal + 1000 " +
        "WHERE s_suppkey % 4 = 0")
      s.sql(
        """MERGE INTO graft_cat.rlns.supp_t AS t USING (
          |  SELECT s_suppkey, s_name, s_acctbal FROM s41_supp_src
          |  WHERE s_suppkey % 3 = 0
          |  UNION ALL
          |  SELECT CAST(s_suppkey + 1000000 AS INT), s_name, s_acctbal
          |  FROM s41_supp_src WHERE s_suppkey % 5 = 0
          |) AS s
          |ON t.s_suppkey = s.s_suppkey
          |WHEN MATCHED AND s.s_acctbal < 3000 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET s_acctbal = s.s_acctbal * 2
          |WHEN NOT MATCHED THEN
          |  INSERT (s_suppkey, s_name, s_acctbal)
          |  VALUES (s.s_suppkey, s.s_name, s.s_acctbal)""".stripMargin)
      s.sql("DELETE FROM graft_cat.rlns.supp_t WHERE s_acctbal * 2 > 15000")
      () =>
      s.sql("SELECT s_suppkey, s_name, s_acctbal FROM graft_cat.rlns.supp_t")
    }),

    "s43_subquery_dml" -> ((s, dir) => {
      // Spark-native UPDATE/DELETE whose conditions carry NON-CORRELATED
      // subqueries on a catalog identifier — no text round-trip exists, so
      // GraftRowLevelRewrite keeps the RESOLVED expression and the engine
      // rebinds it plan-level (TableOps.deleteExpr/updateExpr); Spark's own
      // planner executes the IN-list and scalar subqueries. The oracle
      // replays both mutations relationally over the raw customer table.
      val wh = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.sq")
      read(s, dir, "customer").createOrReplaceTempView("s43_cust_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.sq.cust_t")
      s.sql("CREATE TABLE graft_cat.sq.cust_t AS " +
        "SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM s43_cust_src")
      // IN (SELECT ...): boost every customer in the three largest nations
      s.sql(
        """UPDATE graft_cat.sq.cust_t SET c_acctbal = c_acctbal + 500
          |WHERE c_nationkey IN (
          |  SELECT c_nationkey FROM s43_cust_src
          |  GROUP BY c_nationkey ORDER BY count(*) DESC, c_nationkey LIMIT 3)""".stripMargin)
      // scalar subquery mixed with a plain conjunct (the conjunct still
      // feeds stats-based file skipping)
      s.sql(
        """DELETE FROM graft_cat.sq.cust_t
          |WHERE c_acctbal < (SELECT avg(c_acctbal) FROM s43_cust_src) / 10
          |  AND c_custkey % 2 = 0""".stripMargin)
      () =>
      s.sql("SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM graft_cat.sq.cust_t")
    }),

    "s45_correlated_dml" -> ((s, dir) => {
      // Spark-native UPDATE/DELETE with CORRELATED subquery conditions on
      // a catalog identifier: the resolved condition's outer references
      // rebind onto each evaluation frame and Spark's own decorrelation
      // plans the semi/anti joins (EXISTS / NOT EXISTS). The oracle
      // replays both mutations relationally over the raw tables.
      val wh = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s45")
      read(s, dir, "orders").createOrReplaceTempView("s45_ord_src")
      read(s, dir, "customer").createOrReplaceTempView("s45_cust_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.s45.ord_t")
      s.sql("CREATE TABLE graft_cat.s45.ord_t AS " +
        "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM s45_ord_src")
      // correlated EXISTS: flag orders whose customer carries a negative
      // balance (decorrelates into a left-semi join on the target frame)
      s.sql(
        """UPDATE graft_cat.s45.ord_t SET o_orderstatus = 'N'
          |WHERE EXISTS (
          |  SELECT 1 FROM s45_cust_src c
          |  WHERE c.c_custkey = graft_cat.s45.ord_t.o_custkey
          |    AND c.c_acctbal < 0)""".stripMargin)
      // correlated NOT EXISTS + plain conjunct (the conjunct still feeds
      // stats-based file skipping; the anti join carries the correlation)
      s.sql(
        """DELETE FROM graft_cat.s45.ord_t
          |WHERE NOT EXISTS (
          |  SELECT 1 FROM s45_cust_src c
          |  WHERE c.c_custkey = graft_cat.s45.ord_t.o_custkey
          |    AND c.c_nationkey < 20)
          |  AND o_orderkey % 2 = 0""".stripMargin)
      () =>
      s.sql("SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus " +
        "FROM graft_cat.s45.ord_t")
    }),

    "s46_scalar_subquery_dml" -> ((s, dir) => {
      // NON-correlated SCALAR subqueries in SET assignments and MERGE
      // conditions/values: SQL semantics make each one a per-statement
      // constant, so the command evaluates it exactly once (against the
      // pre-statement state) and splices the result in as a literal. The
      // oracle replays both statements relationally over the raw tables.
      val wh = catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s46")
      read(s, dir, "supplier").createOrReplaceTempView("s46_supp_src")
      read(s, dir, "nation").createOrReplaceTempView("s46_nat_src")
      s.sql("DROP TABLE IF EXISTS graft_cat.s46.supp_t")
      s.sql("CREATE TABLE graft_cat.s46.supp_t AS " +
        "SELECT s_suppkey, s_nationkey, s_acctbal FROM s46_supp_src")
      // scalar subquery inside SET arithmetic (a statement constant)
      s.sql(
        """UPDATE graft_cat.s46.supp_t
          |SET s_acctbal = s_acctbal + (SELECT avg(s_acctbal) FROM s46_supp_src) / 100
          |WHERE s_nationkey = 5""".stripMargin)
      // scalar subqueries in a MERGE clause condition AND an assignment
      s.sql(
        """MERGE INTO graft_cat.s46.supp_t AS t USING s46_nat_src AS n
          |ON t.s_nationkey = n.n_nationkey
          |WHEN MATCHED AND n.n_regionkey >= (SELECT avg(n_regionkey) FROM s46_nat_src)
          |  THEN UPDATE SET s_acctbal =
          |    t.s_acctbal + (SELECT count(*) FROM s46_nat_src) + n.n_regionkey""".stripMargin)
      () =>
      s.sql("SELECT s_suppkey, s_nationkey, s_acctbal FROM graft_cat.s46.supp_t")
    }),

    "s53_unicode_partitions" -> ((s, dir) => {
      // supplementary-plane partition VALUES end-to-end: emoji-valued
      // partition directories are written, their values recorded in the
      // log (percent decoding must keep surrogate pairs whole — tearing
      // one yields '??'), and a range predicate spanning both partitions
      // must keep both in UTF-8 order (UTF-16 would prune the emoji one).
      val priv = ""
      val emoji = "😀"
      val t = GraftTable.create(s, tmp("s53"),
        read(s, dir, "nation").select(col("n_nationkey"), col("n_name"),
          when(col("n_nationkey") % 2 === 0, lit(priv)).otherwise(lit(emoji))
            .as("tag")).coalesce(1),
        partitionColumns = Seq("tag"))
      () =>
      t.toDF.where(s"tag >= '$priv'")
        .select(col("n_nationkey"), col("n_name"), col("tag"))
    }),

    "s56_dynamic_overwrite" -> ((s, dir) => {
      // partitionOverwriteMode=dynamic (Delta's writer option): an
      // overwrite replaces ONLY the partitions the incoming data lands in
      // — regions 1 and 3 get re-keyed/uppercased rows, every other region
      // is untouched. The removes are whole files, so the CDF content is
      // synthesized at read time (delete counts pinned as literals); the
      // oracle replays the partition-scoped replacement relationally.
      val d56 = tmp("s56")
      val nation = read(s, dir, "nation")
      val t = GraftTable.create(s, d56,
        nation.select(col("n_nationkey"), col("n_name"), col("n_regionkey")),
        partitionColumns = Seq("n_regionkey"),
        properties = Map("graft.enableChangeDataFeed" -> "true"))
      nation.where("n_regionkey IN (1, 3)")
        .select((col("n_nationkey") + 1000).as("n_nationkey"),
          upper(col("n_name")).as("n_name"), col("n_regionkey"))
        .write.format("graft").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").save(d56)
      () => {
      val after = GraftTable.forPath(s, d56)
      val v = after.version
      val cdf = graft.log.ChangeDataFeedHelper(s, d56, v, v).readCDF
      after.toDF.select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
        .withColumn("cdf_deletes", lit(cdf.where("_change_type = 'delete'").count()))
        .withColumn("cdf_inserts", lit(cdf.where("_change_type = 'insert'").count()))
        .withColumn("change_files_written", lit(after.log.actionsAt(v)
          .count(_.isInstanceOf[graft.tables.AddCDCFile]).toLong))
        .withColumn("tt_rows", lit(after.toDFAt(v - 1).count()))
      }
    }),

    "s55_table_changes" -> ((s, dir) => {
      // table_changes(...) — Delta 3.x's CDF SQL surface (TVF injected by
      // the session extension): version bounds select the update + delete
      // commits; the oracle replays the pre/post images and the
      // update-aware delete rows relationally.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s55")
      read(s, dir, "nation").createOrReplaceTempView("s55_nat")
      s.sql("DROP TABLE IF EXISTS graft_cat.s55.t")
      s.sql("CREATE TABLE graft_cat.s55.t " +
        "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
        "SELECT n_nationkey, n_name FROM s55_nat")
      s.sql("UPDATE graft_cat.s55.t SET n_name = upper(n_name) WHERE n_nationkey % 3 = 0")
      s.sql("DELETE FROM graft_cat.s55.t WHERE n_nationkey % 5 = 4")
      () => {
      val v = GraftTable.forName(s, "graft_cat.s55.t").version
      s.sql("SELECT n_nationkey, n_name, _change_type " +
        s"FROM table_changes('graft_cat.s55.t', ${v - 1}, $v)")
      }
    }),

    "s61_merge_on_in" -> ((s, dir) => {
      // NON-correlated IN/EXISTS in the MERGE ON condition (beyond Delta,
      // which refuses every subquery there): per-statement constants —
      // the IN set evaluates once and splices as a literal list, the
      // EXISTS as a boolean — so the gate CHANGES MATCHING: a source row
      // whose key exists but whose target nation fails the IN gate is
      // NOT MATCHED and inserts. DuckDB replays the same join.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s61")
      read(s, dir, "customer").createOrReplaceTempView("s61_cust")
      read(s, dir, "supplier").createOrReplaceTempView("s61_supp")
      read(s, dir, "nation").createOrReplaceTempView("s61_nat")
      s.sql("DROP TABLE IF EXISTS graft_cat.s61.t")
      s.sql("CREATE TABLE graft_cat.s61.t AS " +
        "SELECT c_custkey, c_nationkey, c_acctbal FROM s61_cust")
      s.sql(
        """MERGE INTO graft_cat.s61.t t
          |USING (SELECT s_suppkey * 20 AS k, s_nationkey, s_acctbal FROM s61_supp) s
          |ON t.c_custkey = s.k
          |  AND t.c_nationkey IN (SELECT n_nationkey FROM s61_nat WHERE n_regionkey >= 2)
          |  AND EXISTS (SELECT 1 FROM s61_nat WHERE n_regionkey = 0)
          |WHEN MATCHED THEN UPDATE SET c_acctbal = s.s_acctbal
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_nationkey, c_acctbal)
          |  VALUES (s.k + 1000000, s.s_nationkey, s.s_acctbal)
          |""".stripMargin)
      () =>
      s.sql("SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cat.s61.t")
    }),

    "s60_copy_into" -> ((s, dir) => {
      // COPY INTO (Databricks' idempotent bulk ingestion): two landed
      // parquet files load in one run; the re-run skips both (no commit,
      // 0 rows) — the loaded-file memory rides the table log. The oracle
      // replays the table as a plain supplier projection with the run-2
      // counters as relational constants.
      catalogWarehouse(s)
      val work = java.nio.file.Files.createTempDirectory("graft-s60").toString
      val land = work + "/landing"
      graft.tables.Fs.mkdirs(land)
      val supp = read(s, dir, "supplier").select("s_suppkey", "s_name", "s_acctbal")
      def landOne(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
        val stage = work + "/stage_" + name
        df.coalesce(1).write.parquet(stage)
        val part = graft.tables.Fs.walkFiles(stage).find(_.endsWith(".parquet")).get
        graft.tables.Fs.moveNoReplace(part, land + "/" + name)
      }
      landOne("even.parquet", supp.where("s_suppkey % 2 = 0"))
      landOne("odd.parquet", supp.where("s_suppkey % 2 = 1"))
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s60")
      s.sql("DROP TABLE IF EXISTS graft_cat.s60.t")
      s.sql("CREATE TABLE graft_cat.s60.t " +
        "(s_suppkey BIGINT, s_name STRING, s_acctbal DOUBLE)")
      s.sql(s"COPY INTO graft_cat.s60.t FROM '$land' FILEFORMAT = PARQUET")
      () => {
      val r2 = s.sql(
        s"COPY INTO graft_cat.s60.t FROM '$land' FILEFORMAT = PARQUET").collect()(0)
      s.sql("SELECT s_suppkey, s_name, s_acctbal FROM graft_cat.s60.t")
        .withColumn("rerun_rows", lit(r2.getLong(1)))
        .withColumn("rerun_copied", lit(r2.getLong(2)))
        .withColumn("rerun_skipped", lit(r2.getLong(3)))
      }
    }),

    "s59_deep_clone" -> ((s, dir) => {
      // DEEP CLONE (Delta's CLONE without SHALLOW): distributed
      // byte-identical file copy into an independent table — stats and
      // partition values carry verbatim, and the clone is immune to later
      // source mutations. The gate deletes a third of the SOURCE after
      // cloning; the clone must still read the full pre-delete state
      // (DuckDB replays it as a plain projection of orders), and the
      // post-delete source count rides along as a relational column.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s59")
      read(s, dir, "orders").createOrReplaceTempView("s59_orders")
      s.sql("DROP TABLE IF EXISTS graft_cat.s59.src")
      s.sql("DROP TABLE IF EXISTS graft_cat.s59.clone")
      s.sql("CREATE TABLE graft_cat.s59.src PARTITIONED BY (o_orderstatus) AS " +
        "SELECT o_orderkey, o_totalprice, o_orderstatus FROM s59_orders")
      s.sql("CREATE TABLE graft_cat.s59.clone DEEP CLONE graft_cat.s59.src")
      s.sql("DELETE FROM graft_cat.s59.src WHERE o_orderkey % 3 = 0")
      () => {
      val srcAfter = s.table("graft_cat.s59.src").count()
      val ci = GraftTable.forName(s, "graft_cat.s59.clone").log.actionsAt(0L)
        .collectFirst { case c: graft.tables.CommitInfo => c }.get
      s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice FROM graft_cat.s59.clone")
        .withColumn("src_rows_after", lit(srcAfter))
        .withColumn("clone_is_shallow",
          lit(ci.operationParameters("isShallow").toBoolean))
      }
    }),

    "s57_setvalued_set" -> ((s, dir) => {
      // SET-VALUED subqueries in UPDATE SET values (beyond Delta, which
      // refuses every subquery in assignments): a non-correlated IN as a
      // boolean assignment, and a correlated EXISTS folded under CASE in
      // the same statement — both stay resolved expressions and evaluate
      // plan-level over the rewrite frame (Spark plans predicate
      // subqueries in Project position). DuckDB replays the statement
      // relationally.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s57")
      read(s, dir, "customer").createOrReplaceTempView("s57_cust")
      read(s, dir, "nation").createOrReplaceTempView("s57_nat")
      s.sql("DROP TABLE IF EXISTS graft_cat.s57.t")
      s.sql("CREATE TABLE graft_cat.s57.t AS " +
        "SELECT c_custkey, c_nationkey, c_acctbal, false AS flagged FROM s57_cust")
      s.sql(
        """UPDATE graft_cat.s57.t
          |SET flagged = c_nationkey IN (SELECT n_nationkey FROM s57_nat
          |                              WHERE n_regionkey >= 3),
          |    c_acctbal = CASE WHEN EXISTS (SELECT 1 FROM s57_nat n
          |                                  WHERE n.n_nationkey = t.c_nationkey
          |                                    AND n.n_regionkey = 0)
          |                     THEN c_acctbal + 500.0 ELSE c_acctbal END
          |WHERE c_custkey % 2 = 0""".stripMargin)
      () =>
      s.sql("SELECT c_custkey, c_nationkey, c_acctbal, flagged FROM graft_cat.s57.t")
    }),

    "s58_setvalued_merge" -> ((s, dir) => {
      // SET-VALUED subqueries in MERGE clause conditions (beyond Delta):
      // an IN gate on the matched-update clause, a NOT EXISTS gate on the
      // matched-delete clause (first-match-wins ordering exercised), and
      // an IN gate on the insert clause — each binds plan-level onto the
      // merge's joined frame (BoundExpr.Resolved). DuckDB replays the
      // full merge with the same predicates.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s58")
      read(s, dir, "customer").createOrReplaceTempView("s58_cust")
      read(s, dir, "supplier").createOrReplaceTempView("s58_supp")
      read(s, dir, "nation").createOrReplaceTempView("s58_nat")
      s.sql("DROP TABLE IF EXISTS graft_cat.s58.t")
      s.sql("CREATE TABLE graft_cat.s58.t AS " +
        "SELECT c_custkey, c_nationkey, c_acctbal FROM s58_cust")
      s.sql(
        """MERGE INTO graft_cat.s58.t t
          |USING (SELECT s_suppkey * 20 AS k, s_nationkey, s_acctbal FROM s58_supp) s
          |ON t.c_custkey = s.k
          |WHEN MATCHED AND t.c_nationkey IN (SELECT n_nationkey FROM s58_nat
          |                                   WHERE n_regionkey >= 2)
          |  THEN UPDATE SET c_acctbal = s.s_acctbal
          |WHEN MATCHED AND NOT EXISTS (SELECT 1 FROM s58_nat n
          |                             WHERE n.n_nationkey = t.c_nationkey
          |                               AND n.n_regionkey = 1)
          |  THEN DELETE
          |WHEN NOT MATCHED AND s.s_nationkey IN (SELECT n_nationkey FROM s58_nat
          |                                       WHERE n_regionkey <= 1)
          |  THEN INSERT (c_custkey, c_nationkey, c_acctbal)
          |    VALUES (s.k + 2000000, s.s_nationkey, s.s_acctbal)
          |""".stripMargin)
      () =>
      s.sql("SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cat.s58.t")
    }),

    "s54_correlated_merge" -> ((s, dir) => {
      // PER-ROW correlated scalar subqueries in MERGE clause conditions
      // AND values (beyond Delta, which refuses them in every clause
      // position): the matched condition aggregates over nation rows
      // matching the TARGET row's key, the update value over rows matching
      // the SOURCE row's key, and the insert value folds a correlated
      // aggregate that is NULL for some rows (coalesce path). Each binds
      // plan-level onto the merge's joined frame (BoundExpr.Resolved) and
      // decorrelates through Spark's left-outer-join rewrite. DuckDB
      // replays the full merge relationally with the same correlated
      // subqueries.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s54")
      read(s, dir, "customer").createOrReplaceTempView("s54_cust")
      read(s, dir, "supplier").createOrReplaceTempView("s54_supp")
      read(s, dir, "nation").createOrReplaceTempView("s54_nat")
      s.sql("DROP TABLE IF EXISTS graft_cat.s54.t")
      s.sql("CREATE TABLE graft_cat.s54.t AS " +
        "SELECT c_custkey, c_nationkey, c_acctbal FROM s54_cust")
      s.sql(
        """MERGE INTO graft_cat.s54.t t
          |USING (SELECT s_suppkey * 20 AS k, s_nationkey, s_acctbal FROM s54_supp) s
          |ON t.c_custkey = s.k
          |WHEN MATCHED AND (SELECT max(n_regionkey) FROM s54_nat n
          |                  WHERE n.n_nationkey = t.c_nationkey) >= 2
          |  THEN UPDATE SET c_acctbal = s.s_acctbal +
          |    (SELECT 100.0 * min(n_regionkey) FROM s54_nat n
          |     WHERE n.n_nationkey = s.s_nationkey)
          |WHEN NOT MATCHED THEN INSERT (c_custkey, c_nationkey, c_acctbal)
          |  VALUES (s.k + 1000000, s.s_nationkey,
          |    coalesce((SELECT 1000.0 * avg(n_regionkey) FROM s54_nat n
          |              WHERE n.n_nationkey = s.s_nationkey AND n.n_regionkey >= 2),
          |             -1.0) + s.s_acctbal)
          |""".stripMargin)
      () =>
      s.sql("SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cat.s54.t")
    }),

    "s52_correlated_set" -> ((s, dir) => {
      // PER-ROW correlated scalar subquery in UPDATE SET (beyond Delta,
      // which refuses these): each row's new balance folds in an aggregate
      // over the rows of ANOTHER table matching ITS nation key — evaluated
      // plan-level through Spark's decorrelation (left-outer join + agg).
      // DuckDB replays the same correlated CASE relationally.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s52")
      read(s, dir, "customer").createOrReplaceTempView("s52_cust")
      read(s, dir, "nation").createOrReplaceTempView("s52_nat")
      s.sql("DROP TABLE IF EXISTS graft_cat.s52.t")
      s.sql("CREATE TABLE graft_cat.s52.t AS " +
        "SELECT c_custkey, c_nationkey, c_acctbal FROM s52_cust")
      s.sql(
        """UPDATE graft_cat.s52.t
          |SET c_acctbal = c_acctbal +
          |  (SELECT 10.0 * avg(n_regionkey) FROM s52_nat n
          |   WHERE n.n_nationkey = t.c_nationkey)
          |WHERE c_nationkey % 2 = 0""".stripMargin)
      () =>
      s.sql("SELECT c_custkey, c_nationkey, c_acctbal FROM graft_cat.s52.t")
    }),

    "s51_path_sql" -> ((s, dir) => {
      // graft.`/path` as a plain SQL relation (GraftSessionCatalog, the
      // spark_catalog wrapper): direct SELECT, subquery position and
      // VERSION AS OF time travel in ONE statement — previously these died
      // in ResolveSQLOnFile (non-FileFormat source). The appended rows
      // (keys + 900) are excluded by the time-travel subquery, so the
      // oracle is simply the original table.
      val d51 = tmp("s51")
      val t = GraftTable.create(s, d51, read(s, dir, "region"))
      t.append(read(s, dir, "region")
        .selectExpr("r_regionkey + 900 AS r_regionkey", "r_name"))
      () =>
      s.sql(s"SELECT g.r_regionkey, g.r_name FROM graft.`$d51` g " +
        s"WHERE g.r_regionkey IN (SELECT r_regionkey FROM graft.`$d51` VERSION AS OF 0)")
    }),

    "s50_replace_table" -> ((s, dir) => {
      // CREATE OR REPLACE TABLE ... AS SELECT: ONE atomic commit swaps
      // contents + schema + partitioning + properties (remove-all + adds),
      // history stays time-travelable, and with CDF on a reader sees every
      // prior row as `delete` and every new row as `insert` — SYNTHESIZED
      // at read time from the commit's remove/add actions; the commit
      // itself writes ZERO _change_data files (pinned by the
      // change_files_written column — write-time materialization would be
      // O(old + new) write amplification per replace). The oracle replays
      // the new contents relationally and pins the time-travel/CDF counts
      // to the pre/post row sets.
      catalogWarehouse(s)
      s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.s50")
      read(s, dir, "nation").createOrReplaceTempView("s50_nat")
      read(s, dir, "orders").createOrReplaceTempView("s50_ord")
      s.sql("DROP TABLE IF EXISTS graft_cat.s50.t")
      s.sql("CREATE TABLE graft_cat.s50.t " +
        "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
        "SELECT n_nationkey, n_name FROM s50_nat")
      s.sql("CREATE OR REPLACE TABLE graft_cat.s50.t USING graft " +
        "PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
        "SELECT o_orderstatus, count(*) AS cnt FROM s50_ord GROUP BY o_orderstatus")
      () => {
      val t = GraftTable.forName(s, "graft_cat.s50.t")
      val v = t.version
      val cdf = ChangeDataFeedHelper(s, t.path, v, v).readCDF
      // a REPLACE (not OR CREATE) of a missing table must refuse loudly
      val refused =
        try { s.sql("REPLACE TABLE graft_cat.s50.missing (a INT) USING graft"); false }
        catch { case _: Throwable => true }
      t.toDF.select(col("o_orderstatus"), col("cnt"))
        .withColumn("tt_rows", lit(t.toDFAt(1).count()))
        .withColumn("cdf_deletes", lit(cdf.where("_change_type = 'delete'").count()))
        .withColumn("cdf_inserts", lit(cdf.where("_change_type = 'insert'").count()))
        .withColumn("replace_version", lit(v))
        .withColumn("missing_refused", lit(refused))
        .withColumn("change_files_written", lit(t.log.actionsAt(v)
          .count(_.isInstanceOf[graft.tables.AddCDCFile]).toLong))
      }
    }),

    "s62_restore_cdf" -> ((s, dir) => {
      // RESTORE with CDF on: the restore commit writes ZERO change files —
      // its delete/insert change rows are synthesized at read time from the
      // whole-file remove/re-add actions (the REPLACE posture; write-time
      // materialization would be O(diff) write amplification per restore).
      // The removed set is a strict SUBSET of the prior files (the appended
      // region file lives through the restore untouched), so this pins the
      // RESTORE-specific qualification, not the remove-all rule.
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("s62"), base.coalesce(1),
        properties = Map(graft.tables.GraftLog.CdfProperty -> "true")) // v0: file A
      () => {
      t.append(read(s, dir, "region")
        .select((col("r_regionkey").cast("long") + 100).as("id"),
          col("r_name").as("name")).coalesce(1))                      // v1: + file B
      TableOps.delete(t, Some("id < 10"))                             // v2: A -> A'
      val rv = TableOps.restore(t, 1L)                                // v3: drop A', re-add A
      val t2 = GraftTable.forPath(s, t.path)
      val cdf = graft.log.ChangeDataFeedHelper(s, t.path, rv, rv).readCDF
      t2.toDF.select(col("id"), col("name"))
        .withColumn("cdf_deletes", lit(cdf.where("_change_type = 'delete'").count()))
        .withColumn("cdf_inserts", lit(cdf.where("_change_type = 'insert'").count()))
        .withColumn("restore_version", lit(rv))
        .withColumn("change_files_written", lit(t2.log.actionsAt(rv)
          .count(_.isInstanceOf[graft.tables.AddCDCFile]).toLong))
      }
    }),

    "s63_vacuum_untracked" -> ((s, dir) => {
      // VACUUM's untracked-orphan sweep: data files land in the table dir
      // BEFORE their OCC commit, so a crashed/race-losing writer strands
      // files no log version references — only a directory listing finds
      // them. Aged orphans (incl. one under _change_data) are swept; a
      // young orphan (in-flight guard) and live data survive; LITE
      // (log-only, Delta 4.0's keyword) skips the listing entirely.
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("s63"), base.coalesce(1))
      () => {
      def plant(rel: String, aged: Boolean): Unit = {
        val p = java.nio.file.Paths.get(t.path, rel)
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, Array[Byte](1, 2, 3))
        if (aged) java.nio.file.Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 7200000L))
        ()
      }
      plant("part-orphan-a.parquet", aged = true)
      plant("part-orphan-b.parquet", aged = true)
      plant("_change_data/cdc-orphan.parquet", aged = true)
      plant("part-orphan-young.parquet", aged = false)
      val lite = TableOps.vacuum(t, t.version, lite = true).toLong
      val planned = TableOps.vacuumDryRun(t, t.version).size.toLong
      val swept = TableOps.vacuum(t, t.version).toLong
      val t2 = GraftTable.forPath(s, t.path)
      t2.toDF.select(col("id"), col("name"))
        .withColumn("lite_deleted", lit(lite))
        .withColumn("planned", lit(planned))
        .withColumn("swept", lit(swept))
        .withColumn("young_survives", lit(java.nio.file.Files.exists(
          java.nio.file.Paths.get(t.path, "part-orphan-young.parquet"))))
      }
    }),

    "s64_sync_identity" -> ((s, dir) => {
      // ALTER COLUMN ... SYNC IDENTITY: explicit BY-DEFAULT inserts
      // (nation keys shifted +1000) overtake the unset high-water mark;
      // sync re-seats it on max(id) via the metadata-only stats aggregate,
      // so the next generated range continues PAST the explicit values
      // instead of colliding with them.
      val base = read(s, dir, "nation")
        .select((col("n_nationkey").cast("long") + 1000).as("id"),
          col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("s64"), base,
        properties = Map(GraftTable.IdentityPropertyPrefix + "id" -> "1,1"))
      () => {
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE '${t.path}' ALTER COLUMN id SYNC IDENTITY")
      val t2 = GraftTable.forPath(s, t.path)
      val mark = t2.snapshot.metadata.properties(
        GraftTable.identityHighKey("id")).toLong
      import s.implicits._
      t2.append(Seq("gen1", "gen2", "gen3").toDF("name"))
      GraftTable.forPath(s, t.path).toDF.select(col("id"), col("name"))
        .withColumn("synced_mark", lit(mark))
      }
    }),

    "s65_not_null" -> ((s, dir) => {
      // NOT NULL invariants (Delta's nullability enforcement): SET NOT
      // NULL validates the existing rows from footer nullCounts
      // (metadata-only — zero data read on a graft-written table), the
      // write projection then rejects a violating append per ROW with
      // nothing committed, a conforming nullable-SCHEMA append lands
      // without eroding the brand, and DROP NOT NULL relaxes it so the
      // null row then lands.
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"), col("n_name").as("name"))
      val t = GraftTable.create(s, tmp("s65"), base)
      () => {
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE '${t.path}' ALTER COLUMN id SET NOT NULL")       // v1
      val branded = !GraftTable.forPath(s, t.path).snapshot.schema("id").nullable
      val rejected = quietExpectedFailure {
        try {
          GraftTable.forPath(s, t.path)
            .append(s.sql("SELECT CAST(NULL AS BIGINT) AS id, 'x' AS name"))
          false
        } catch { case _: Throwable => true }
      }
      val vAfterReject = GraftTable.forPath(s, t.path).version
      GraftTable.forPath(s, t.path)
        .append(s.sql("SELECT CAST(900 AS BIGINT) AS id, 'ok' AS name")) // v2
      graft.sql.GraftSql.sql(s,
        s"ALTER TABLE '${t.path}' ALTER COLUMN id DROP NOT NULL")      // v3
      GraftTable.forPath(s, t.path)
        .append(s.sql("SELECT CAST(NULL AS BIGINT) AS id, 'nullrow' AS name")) // v4
      GraftTable.forPath(s, t.path).toDF.select(col("id"), col("name"))
        .withColumn("branded", lit(branded))
        .withColumn("violation_rejected", lit(rejected))
        .withColumn("reject_committed_nothing", lit(vAfterReject == 1L))
      }
    }),

    "s66_lazy_snapshot_read" -> ((s, dir) => {
      // Dataset-backed read path (the 10⁶-file posture, forced by a tiny
      // spark.graft.snapshot.driverFileLimit): the point query plans from
      // a LazyFileIndex — skipping evaluated on executors over the log's
      // Dataset view, the driver never folding the live file list — and
      // must return exactly what the relational oracle computes. The
      // fold watch proves the property, the oracle proves the rows.
      val base = read(s, dir, "nation")
        .select(col("n_nationkey").cast("long").as("id"),
          col("n_name").as("name"), col("n_regionkey").cast("int").as("region"))
      val t = GraftTable.create(s, tmp("s66"), base.repartition(6),
        partitionColumns = Seq("region"),
        properties = Map("graft.checkpoint.format" -> "parquet"))
      t.log.writeCheckpoint(t.version)
      () => {
      val key = GraftTable.DriverFileLimitConf
      s.conf.set(key, "3")
      try {
        graft.tables.GraftLog.watchFolds(t.path)
        val lz = GraftTable.forPath(s, t.path)
        require(GraftTable.lazyReadEligible(s, lz.log, lz.version),
          "s66 precondition: forced limit puts the table on the lazy path")
        val out = lz.toDF.where("region >= 2 AND id >= 5")
          .select(col("id"), col("name"), col("region"))
        out.collect() // execute under the watch, then return the frame
        val folds = graft.tables.GraftLog.foldCount(t.path)
        graft.tables.GraftLog.unwatchFolds(t.path)
        require(folds == 0L, s"lazy read performed $folds full driver folds")
        out.withColumn("zero_folds", lit(folds == 0L))
      } finally s.conf.unset(key)
      }
    }),

    "s67_lazy_dml" -> ((s, dir) => {
      // DML through the Dataset-backed posture (limit forced): DELETE and
      // UPDATE select candidates via executor-side skipping and commit
      // from the snapshot head — zero full driver folds, rows identical
      // to the relational oracle replaying the same mutations.
      val base = read(s, dir, "supplier")
        .select(col("s_suppkey").cast("long").as("id"),
          col("s_name").as("name"), col("s_acctbal").cast("double").as("bal"))
      val t = GraftTable.create(s, tmp("s67"), base.repartition(6),
        properties = Map("graft.checkpoint.format" -> "parquet"))
      t.log.writeCheckpoint(t.version)
      () => {
      val key = GraftTable.DriverFileLimitConf
      s.conf.set(key, "3")
      try {
        graft.tables.GraftLog.watchFolds(t.path)
        graft.operators.TableOps.delete(
          GraftTable.forPath(s, t.path), Some("id % 7 = 0"))
        graft.operators.TableOps.update(
          GraftTable.forPath(s, t.path), Some("id % 5 = 0"),
          Map("bal" -> "bal + 1000.0"))
        val folds = graft.tables.GraftLog.foldCount(t.path)
        graft.tables.GraftLog.unwatchFolds(t.path)
        require(folds == 0L, s"lazy DML performed $folds full driver folds")
        GraftTable.forPath(s, t.path).toDF
          .select(col("id"), col("name"),
            floor(col("bal") * 100 + 0.5).cast("long").as("bal_c"))
          .withColumn("zero_folds", lit(folds == 0L))
      } finally s.conf.unset(key)
      }
    }),

    "s42_uri_table" -> ((s, dir) => {
      // REMOTE-scheme storage end-to-end: the whole engine addressed by a
      // hadoop-FileSystem URI instead of a local path — log IO through
      // HadoopLogStore's rename-claim, staging/landing through hadoop-fs
      // renames, the scan through URI FileStatuses. The faux:// scheme
      // (graft.tools.FauxFileSystem, a local delegate registered exactly
      // like a production custom scheme) stands in for hdfs/abfs in this
      // container. Create from nation, rewrite (UPDATE), shrink (DELETE),
      // grow (append) — every mutation lands as remote files; the oracle
      // replays the mutations relationally over the raw table.
      val hc = s.sparkContext.hadoopConfiguration
      hc.set("fs.faux.impl", "graft.tools.FauxFileSystem")
      hc.set("fs.AbstractFileSystem.faux.impl", "graft.tools.FauxAbstractFs")
      graft.tables.Fs.resetConfCache()
      val uri = "faux://" + tmp("s42-uri")
      val t = GraftTable.create(s, uri,
        read(s, dir, "nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey")))
      TableOps.update(t, Some("n_regionkey = 2"),
        Map("n_name" -> "concat('U_', n_name)"))
      TableOps.delete(t, Some("n_nationkey % 7 = 0"))
      s.sql("SELECT CAST(900 AS INT) AS n_nationkey, 'FAUXLAND' AS n_name, " +
        "CAST(0 AS INT) AS n_regionkey")
        .createOrReplaceTempView("s42_extra")
      t.append(s.table("s42_extra"))
      () =>
      GraftTable.forPath(s, uri).toDF
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    }),

    "s47_nested_skipping" -> ((s, dir) => {
      import s.implicits._
      // NESTED struct-leaf stats are a first-class skipping index: orders
      // re-nested (custkey inside a struct), range-bucketed one file per
      // bucket on the nested key — which files survive a nested key-range
      // predicate is derivable from the data itself, so DuckDB replays the
      // bucket min/max logic relationally
      val orders = read(s, dir, "orders")
      val maxKey = orders.agg(max(col("o_custkey")).cast("long")).first().getLong(0)
      val width = maxKey / 8 + 1
      val nested = orders
        .withColumn("bucket", (col("o_custkey").cast("long") / width).cast("long"))
        .selectExpr("o_orderkey",
          "named_struct('custkey', o_custkey, 'price', o_totalprice) AS meta", "bucket")
      val t = GraftTable.create(s, tmp("s47"), nested.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val cls = graft.tables.FileSkipping.classify(s, t.toDF,
        "meta.custkey >= 100 AND meta.custkey <= 200")
      val scanned =
        graft.tables.FileSkipping.filesMatching(t.snapshot, cls.all, None).size.toLong
      val rows = t.toDF.where("meta.custkey >= 100 AND meta.custkey <= 200").count()
      Seq((scanned, t.snapshot.numFiles.toLong, rows))
        .toDF("files_scanned", "total_files", "rows_matching")
      }
    }),

    "s48_like_skipping" -> ((s, dir) => {
      import s.implicits._
      // LIKE-'p%' file skipping: customer bucketed on c_custkey (TPC-H
      // names are zero-padded custkeys, so name order == key order and
      // per-bucket name min/max are tight). Which buckets survive the
      // prefix band [p, next(p)) is derivable from the data — DuckDB
      // replays the same band against per-bucket min/max names.
      val cust = read(s, dir, "customer")
      val maxKey = cust.agg(max(col("c_custkey")).cast("long")).first().getLong(0)
      val width = maxKey / 8 + 1
      val bucketed = cust.select("c_custkey", "c_name", "c_acctbal")
        .withColumn("bucket", (col("c_custkey").cast("long") / width).cast("long"))
      val t = GraftTable.create(s, tmp("s48"), bucketed.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val pred = "c_name LIKE 'Customer#0000001%'"
      val cls = graft.tables.FileSkipping.classify(s, t.toDF, pred)
      val scanned =
        graft.tables.FileSkipping.filesMatching(t.snapshot, cls.all, None).size.toLong
      val rows = t.toDF.where(pred).count()
      Seq((scanned, t.snapshot.numFiles.toLong, rows))
        .toDF("files_scanned", "total_files", "rows_matching")
      }
    }),

    "s49_utf8_stats" -> ((s, dir) => {
      import s.implicits._
      // UTF-8 vs UTF-16 string-order divergence: every string carries, at
      // the order-deciding position, either U+E000 (private-use BMP, UTF-8
      // 0xEE 80 80) or the U+1F600 emoji (supplementary plane, UTF-8
      // 0xF0 9F 98 80 but UTF-16 surrogates 0xD83D 0xDE00). UTF-16 sorts
      // the emoji BELOW U+E000, UTF-8 sorts it ABOVE — so range skipping,
      // the LIKE-prefix band, and the metadata-only max are only correct
      // when every stats comparison runs in unsigned UTF-8 byte order
      // (Utf8Order), the order Spark evaluates strings in and parquet
      // computes footer min/max in. One file per parity bucket; DuckDB
      // (memcmp collation) replays the band logic and the true max.
      val priv = ""
      val emoji = "😀" // U+1F600
      val tagged = read(s, dir, "nation").select(
        col("n_nationkey"),
        concat(lit("doc-"),
          when(col("n_nationkey") % 2 === 0, lit(priv)).otherwise(lit(emoji)),
          col("n_name")).as("name_u"),
        (col("n_nationkey") % 2).cast("long").as("bucket"))
      val dir49 = tmp("s49")
      val t = GraftTable.create(s, dir49, tagged.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      val predRange = s"name_u >= 'doc-$priv'"   // matches BOTH files in UTF-8
      val predLike  = s"name_u LIKE 'doc-$emoji%'" // matches the emoji file only
      def scanned(pred: String): Long = {
        val cls = graft.tables.FileSkipping.classify(s, t.toDF, pred)
        graft.tables.FileSkipping.filesMatching(t.snapshot, cls.all, None).size.toLong
      }
      // the metadata-only rule rewrites the SOURCE relation shape (s34's
      // path): aggregate over the graft read, not the pinned-snapshot DF
      val agg = s.read.format("graft").load(dir49).agg(max(col("name_u")).as("mx"))
      val metadataOnly = agg.queryExecution.optimizedPlan.collectFirst {
        case _: LocalRelation => true
      }.getOrElse(false)
      Seq((scanned(predRange), scanned(predLike), t.snapshot.numFiles.toLong,
        t.toDF.where(predRange).count(), t.toDF.where(predLike).count(),
        agg.first().getString(0), metadataOnly))
        .toDF("files_scanned_range", "files_scanned_like", "total_files",
          "rows_matching_range", "rows_matching_like", "max_name",
          "metadata_only")
      }
    }),

    "s8_skipping_counts" -> ((s, dir) => {
      import s.implicits._
      // deterministic skipping: contiguous key-range buckets (one file per
      // bucket), so exactly which files survive min/max skipping for a
      // key-range predicate is derivable from the data itself
      val orders = read(s, dir, "orders")
      val maxKey = orders.agg(max(col("o_orderkey")).cast("long")).first().getLong(0)
      val width = maxKey / 8 + 1
      val bucketed = orders.withColumn("bucket",
        (col("o_orderkey").cast("long") / width).cast("long"))
      val t = GraftTable.create(s, tmp("s8"), bucketed.coalesce(1),
        partitionColumns = Seq("bucket"))
      () => {
      val m = GraftHelpers.getNumShuffleFiles(t, "o_orderkey >= 100 AND o_orderkey <= 200")
      Seq((m("overall").asInstanceOf[Int].toLong,
        m("totalFilesInTable").asInstanceOf[Long]))
        .toDF("files_scanned", "total_files")
      }
    })
  )

  /** The flat driver contract: each value builds its fixture (if any) and
    * runs the query in one call — derived from [[staged]], which keeps the
    * fixture/query boundary visible so Bench can time them separately.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    staged.map { case (n, f) => n -> ((s: SparkSession, d: String) => f(s, d)()) }

  // ====================================================================
  // DuckDB oracles (driver hash-compares column-sorted results)
  // ====================================================================

  def oracleSql: Map[String, String] = Map(
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_top_customers" ->
      """SELECT c_custkey, c_name,
        |  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS total_spent_c,
        |  count(*) AS order_count
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey, c_name
        |ORDER BY total_spent_c DESC, c_custkey
        |LIMIT 10""".stripMargin,
    "q3_user_running_totals" ->
      """SELECT event_id, user_id,
        |  CAST(row_number() OVER w AS INT) AS event_seq,
        |  CAST(sum(CAST(floor(value * 10000 + 0.5) AS BIGINT)) OVER w AS BIGINT) AS running_value_e4
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "k1_md5_surrogate" ->
      "SELECT c_custkey, md5(c_name || '||' || c_mktsegment) AS unique_id FROM customer",
    "k2_md5_table" ->
      "SELECT c_custkey, md5(c_name || '||' || c_mktsegment) AS unique_id FROM customer",
    "v1_validate_columns" ->
      "SELECT true AS existing_cols_pass, false AS missing_cols_pass",
    "l5_write_metrics_by_partition" ->
      """SELECT c_mktsegment AS segment, count(*) AS write_rows
        |FROM customer GROUP BY 1""".stripMargin,
    "c5_cdf_status" ->
      """SELECT CAST(v AS BIGINT) AS version, e AS cdf_enabled
        |FROM (VALUES (0, true), (1, true), (2, false), (3, false),
        |             (4, true), (5, true)) AS t(v, e)""".stripMargin,
    "c6_version_lists" ->
      """SELECT k AS kind, CAST(v AS BIGINT) AS version
        |FROM (VALUES ('enabled', 0), ('enabled', 1), ('disabled', 2),
        |             ('disabled', 3), ('enabled', 4), ('enabled', 5)) AS t(k, v)""".stripMargin,
    "q21_cdc_propagate" ->
      """SELECT r_regionkey,
        |       CASE WHEN r_regionkey = 0 THEN 'EUROPA' ELSE r_name END AS r_name
        |FROM region WHERE r_regionkey <> 4
        |UNION ALL SELECT CAST(99 AS INT), 'ATLANTIS'""".stripMargin,
    "c13_apply_changes" ->
      """WITH n AS (SELECT CAST(n_nationkey AS INT) AS k, n_name AS name FROM nation),
        |base AS (SELECT k, name, CAST(0 AS BIGINT) AS upd_seq FROM n),
        |chA AS (
        |  SELECT k, lower(name) AS name, CAST(2 AS BIGINT) AS upd_seq, FALSE AS del FROM n WHERE k < 10
        |  UNION ALL SELECT k, 'STALE', 1, FALSE FROM n WHERE k < 10
        |  UNION ALL SELECT k, name, 1, TRUE FROM n WHERE k BETWEEN 20 AND 24
        |  UNION ALL SELECT k + 100, name || '_NEW', 1, FALSE FROM n WHERE k < 5
        |  UNION ALL SELECT 999, 'GHOST', 1, TRUE
        |  UNION ALL SELECT 15, 'TIE_UPSERT', 3, FALSE
        |  UNION ALL SELECT 15, 'TIE_DEL', 3, TRUE),
        |lA AS (SELECT k, name, upd_seq, del FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY upd_seq DESC, del DESC) AS rn
        |  FROM chA) WHERE rn = 1),
        |sA AS (
        |  SELECT COALESCE(b.k, l.k) AS k,
        |    CASE WHEN l.k IS NOT NULL AND NOT l.del AND (b.k IS NULL OR l.upd_seq >= b.upd_seq)
        |         THEN l.name ELSE b.name END AS name,
        |    CASE WHEN l.k IS NOT NULL AND NOT l.del AND (b.k IS NULL OR l.upd_seq >= b.upd_seq)
        |         THEN l.upd_seq ELSE b.upd_seq END AS upd_seq
        |  FROM base b FULL JOIN lA l ON b.k = l.k
        |  WHERE NOT (l.k IS NOT NULL AND l.del AND (b.k IS NULL OR l.upd_seq >= b.upd_seq))),
        |chB AS (
        |  SELECT k, 'MUST_NOT_APPLY' AS name, CAST(1 AS BIGINT) AS upd_seq, FALSE AS del FROM n WHERE k < 10
        |  UNION ALL SELECT 3, 'B_WINS', 5, FALSE),
        |lB AS (SELECT k, name, upd_seq, del FROM (
        |  SELECT *, row_number() OVER (PARTITION BY k ORDER BY upd_seq DESC, del DESC) AS rn
        |  FROM chB) WHERE rn = 1)
        |SELECT COALESCE(b.k, l.k) AS k,
        |  CASE WHEN l.k IS NOT NULL AND NOT l.del AND (b.k IS NULL OR l.upd_seq >= b.upd_seq)
        |       THEN l.name ELSE b.name END AS name,
        |  CASE WHEN l.k IS NOT NULL AND NOT l.del AND (b.k IS NULL OR l.upd_seq >= b.upd_seq)
        |       THEN l.upd_seq ELSE b.upd_seq END AS upd_seq
        |FROM sA b FULL JOIN lB l ON b.k = l.k
        |WHERE NOT (l.k IS NOT NULL AND l.del AND (b.k IS NULL OR l.upd_seq >= b.upd_seq))""".stripMargin,
    "s1_latest_version" ->
      "SELECT CAST(2 AS BIGINT) AS latest_version",
    "s13_restore" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |       CAST(3 AS BIGINT) AS version, 'RESTORE' AS op
        |FROM nation""".stripMargin,
    "s14_check_constraints" ->
      """SELECT CAST((SELECT count(*) FROM customer) + 1 AS BIGINT) AS rows_after,
        |       true AS violation_rejected, CAST(1 AS BIGINT) AS num_constraints""".stripMargin,
    "q13_idempotent_write" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS id, s_name AS name FROM supplier
        |UNION ALL SELECT -1, 'extra'""".stripMargin,
    "s15_shallow_clone" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS id, o_totalprice AS price,
        |       (SELECT count(*) FROM orders) AS src_rows
        |FROM orders WHERE o_orderkey % 2 <> 0""".stripMargin,
    "s44_sql_shallow_clone" ->
      """SELECT CAST(c_custkey AS BIGINT) AS id, c_acctbal AS bal,
        |       (SELECT count(*) FROM customer) AS src_rows
        |FROM customer WHERE c_custkey % 2 <> 0""".stripMargin,
    "s17_fsck" ->
      """SELECT n_nationkey, n_name, 1 AS n_missing, 'FSCK' AS op
        |FROM nation WHERE n_nationkey >= 10""".stripMargin,
    "s18_optimize_write" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS id, s_name AS name,
        |       CAST(1 AS BIGINT) AS n_files
        |FROM supplier""".stripMargin,
    "s19_auto_compact" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |       CAST(1 AS BIGINT) AS n_files
        |FROM nation""".stripMargin,
    "s26_deletion_vectors" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS id, o_totalprice AS price,
        |       true AS files_unchanged,
        |       (SELECT count(*) FROM orders WHERE o_orderkey % 4 = 1) AS dv_rows
        |FROM orders WHERE o_orderkey % 4 <> 1""".stripMargin,
    "s20_sql_maintenance" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS id, r_name AS name,
        |       CAST(5 AS BIGINT) AS n_removed, CAST(1 AS BIGINT) AS n_added,
        |       CAST(1 AS BIGINT) AS n_optimize
        |FROM region""".stripMargin,
    "s21_convert" ->
      """SELECT CAST(p_partkey AS BIGINT) AS id, p_name AS name,
        |       CAST(4 AS BIGINT) AS n_files, CAST(0 AS BIGINT) AS version
        |FROM part""".stripMargin,
    "s22_sql_alter" ->
      """SELECT CAST(r_regionkey AS BIGINT) AS id, r_name AS name,
        |       CAST(NULL AS BIGINT) AS bonus, CAST(1 AS BIGINT) AS n_props
        |FROM region""".stripMargin,
    "s24_cluster_by" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS id, s_name AS name,
        |       true AS multi_file, true AS clustered_probe
        |FROM supplier""".stripMargin,
    "s29_generated_columns" ->
      """SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS o_year
        |FROM orders WHERE year(o_orderdate) = 1995""".stripMargin,
    "s30_metadata_count" ->
      "SELECT CAST(count(*) AS BIGINT) AS row_count, true AS metadata_only FROM customer",
    "s34_metadata_minmax" ->
      """SELECT CAST(min(c_custkey) AS BIGINT) AS min_key,
        |       CAST(max(c_custkey) AS BIGINT) AS max_key,
        |       min(c_name) AS min_name, max(c_name) AS max_name,
        |       CAST(count(*) AS BIGINT) AS row_count, true AS metadata_only
        |FROM customer""".stripMargin,
    "s31_symlink_manifest" ->
      """SELECT CAST(count(*) AS BIGINT) AS rows_via_manifest,
        |       true AS matches_live, true AS nonempty FROM nation""".stripMargin,
    "s38_protocol" ->
      """SELECT CAST(1 AS INT) AS min_reader, CAST(1 AS INT) AS min_writer,
        |       'deletionVectors' AS reader_features,
        |       'checkConstraints,deletionVectors,identityColumns' AS writer_features""".stripMargin,
    "s37_log_cleanup" ->
      """SELECT CAST(n_nationkey AS INT) AS k,
        |       CASE WHEN n_nationkey < 3 THEN lower(n_name)
        |            WHEN n_nationkey = 5 THEN 'FIVE'
        |            ELSE n_name END AS n_name,
        |       CAST(2 AS INT) AS surviving_versions
        |FROM nation
        |UNION ALL SELECT CAST(99 AS INT), 'ATLANTIS', 2""".stripMargin,
    "s36_identity" ->
      """SELECT CAST(998 + 2 * row_number() OVER (ORDER BY n_nationkey) AS BIGINT) AS id,
        |       CAST(n_nationkey AS INT) AS k, n_name AS name
        |FROM nation""".stripMargin,
    "s33_column_defaults" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name, 'live' AS status
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT), n_name, 'pending' FROM nation""".stripMargin,
    "s35_stats_backfill" ->
      """SELECT CAST(1 AS INT) AS files_backfilled,
        |       CAST(2 * (SELECT count(*) FROM nation) AS BIGINT) AS rows_from_stats,
        |       CAST((SELECT min(n_nationkey) FROM nation) AS BIGINT) AS min_key,
        |       CAST((SELECT max(n_nationkey) FROM nation) + 100 AS BIGINT) AS max_key,
        |       CAST(2 * (SELECT count(*) FROM nation) AS BIGINT) AS table_rows""".stripMargin,
    "s32_type_widening" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CAST(CAST(n_nationkey AS REAL) AS DOUBLE) AS v FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT),
        |       CAST(n_nationkey AS DOUBLE) + 0.25e0 FROM nation""".stripMargin,
    "d27_distinct_sketch" ->
      """SELECT source, true AS estimate_ok
        |FROM (SELECT DISTINCT source FROM documents)
        |UNION ALL SELECT '__union__', true""".stripMargin,
    // duplicated 12-token windows: flag every non-canonical occurrence
    // (canonical = smallest (doc_id, pos) per gram), then merge covered
    // intervals [pos, pos+11] per doc into maximal spans
    "d35_substring_spans" ->
      s"""$substringFlaggedCtes,
         |marked AS (
         |  SELECT doc_id, pos,
         |         max(pos + 11) OVER (PARTITION BY doc_id ORDER BY pos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |  FROM flagged),
         |isl AS (
         |  SELECT doc_id, pos,
         |         sum(CASE WHEN prev_end IS NULL OR pos > prev_end + 1 THEN 1 ELSE 0 END)
         |           OVER (PARTITION BY doc_id ORDER BY pos) AS g
         |  FROM marked)
         |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
         |       CAST(max(pos) + 11 AS BIGINT) AS span_end
         |FROM isl GROUP BY doc_id, g""".stripMargin,
    "t16_corpus_report" ->
      """SELECT lang AS stratum,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  CAST(count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS BIGINT) AS distinct_fingerprints,
        |  CAST((SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) * 10000) // count(*) AS BIGINT) AS avg_doc_tokens_e4,
        |  CAST(((count(*) - count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))))) * 10000) // count(*) AS BIGINT) AS dup_rate_e4
        |FROM documents GROUP BY lang""".stripMargin,
    "t12_bpe_merges" ->
      """SELECT CAST(rank AS INT) AS rank, "left", "right",
        |  CAST(pair_count AS BIGINT) AS pair_count
        |FROM (VALUES
        |  (0, 'l', 'e', 238),
        |  (1, 'a', 'r', 233),
        |  (10, 'le', 'arn', 101),
        |  (11, 'p', 'h', 101),
        |  (12, 'a', 'le', 100),
        |  (13, 'sc', 'ale', 100),
        |  (14, 'g', 'ra', 96),
        |  (15, 'gra', 'ph', 96),
        |  (16, 's', 'p', 96),
        |  (17, 'ar', 'k', 94),
        |  (18, 'sp', 'ark', 94),
        |  (19, 's', 'h', 84),
        |  (2, 'd', 'e', 189),
        |  (20, 'o', 'f', 78),
        |  (21, 'de', 'x', 70),
        |  (22, 'f', 'i', 70),
        |  (23, 'in', 'dex', 70),
        |  (3, 'e', 'r', 169),
        |  (4, 'i', 'n', 157),
        |  (5, 'r', 'a', 131),
        |  (6, 't', 'o', 104),
        |  (7, 'a', 't', 103),
        |  (8, 's', 'c', 102),
        |  (9, 'ar', 'n', 101)
        |) AS t(rank, "left", "right", pair_count)""".stripMargin,
    "t13_bpe_tokenize" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_tokens AS INT) AS n_tokens, tokens
        |FROM (VALUES
        |  (1, 66, 'b y t e s a m p le in f i l t er p a i r t ra in of sc ale hash hash de d u p hash t ra in to in de x sp ar k deep g ra ph hash in to in de x q u er y to k e n sc ale deep t ra in'),
        |  (11, 90, 'sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k'),
        |  (13, 77, 'le arn b y t e t ra in to m er ge m er ge g ra ph in to k e n le arn a n d g ra ph in a n d le arn sc ale data f i l t er q u er y in de x mo de l to k e n hash de d u p q u er y b y t e of m er ge'),
        |  (15, 60, 'le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn'),
        |  (17, 63, 'deep m er ge mo de l deep deep c o r p u s p a i r to b at c h t ra in s a m p le of b y t e hash hash t he g ra ph mo de l g ra ph of of mo de l de d u p p a i r'),
        |  (19, 30, 'of of of of of of of of of of of of of of of of of of of of of of of of of of of of of of'),
        |  (21, 78, 'data b at c h in data mo de l sp ar k sp ar k b at c h f i l t er to sc ale hash t he t he m er ge in to k e n to k e n f i l t er in a n d g ra ph of m er ge b y t e f i l t er q u er y b at c h'),
        |  (23, 30, 'to to to to to to to to to to to to to to to to to to to to to to to to to to to to to to'),
        |  (25, 61, 'f i l t er g ra ph g ra ph in de x in de x c o r p u s de d u p t he hash deep m er ge deep sh ar d deep p a i r of hash m er ge sp ar k m er ge f i l t er t he'),
        |  (27, 60, 'sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale'),
        |  (29, 114, 'sp ar k t ra in b y t e sp ar k in to k e n to k e n mo de l hash c o r p u s b at c h de d u p t ra in hash to k e n in de x b y t e deep b at c h sc ale c o r p u s le arn a n d p a i r in le arn in in in sc ale a n d in de x s a m p le mo de l to k e n to k e n b at c h sp ar k'),
        |  (3, 90, 'g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph'),
        |  (31, 120, 'q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y q u er y'),
        |  (33, 67, 'hash de d u p data p a i r sh ar d of de d u p a n d of in de x f i l t er de d u p to b at c h p a i r to k e n sh ar d a n d sh ar d g ra ph de d u p to sh ar d'),
        |  (35, 90, 'in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x in de x'),
        |  (37, 110, 'q u er y t ra in in de x to k e n de d u p m er ge in p a i r p a i r le arn mo de l le arn b y t e to k e n in sc ale p a i r t ra in t he sc ale q u er y s a m p le c o r p u s b y t e le arn q u er y in f i l t er of t ra in le arn s a m p le t he c o r p u s to'),
        |  (39, 90, 'sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k sp ar k'),
        |  (41, 61, 'data data data hash a n d le arn of sh ar d in sc ale t ra in t ra in de d u p b y t e to t he s a m p le m er ge hash s a m p le m er ge in t ra in sc ale of to k e n'),
        |  (43, 90, 'a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d a n d'),
        |  (45, 78, 'in de x de d u p le arn le arn q u er y hash c o r p u s in de d u p of of f i l t er m er ge sh ar d s a m p le b y t e mo de l deep m er ge sh ar d f i l t er in de x sc ale de d u p to data g ra ph'),
        |  (47, 60, 'le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn le arn'),
        |  (49, 101, 'f i l t er c o r p u s to k e n b at c h in de x f i l t er of in de x m er ge in of data sp ar k data in f i l t er in de x f i l t er p a i r t ra in p a i r b y t e b at c h deep q u er y a n d b y t e a n d c o r p u s p a i r to deep'),
        |  (5, 54, 't he s a m p le deep deep q u er y q u er y mo de l sh ar d b at c h in de x data b y t e b at c h to to b at c h data a n d b y t e deep'),
        |  (51, 150, 'f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er f i l t er'),
        |  (53, 121, 'le arn to data b at c h p a i r g ra ph to k e n g ra ph t he sp ar k le arn p a i r mo de l b y t e sp ar k q u er y sc ale de d u p s a m p le a n d g ra ph c o r p u s b at c h to b y t e mo de l to k e n s a m p le of deep g ra ph s a m p le b y t e t he mo de l de d u p s a m p le t he'),
        |  (55, 120, 'b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h b at c h'),
        |  (57, 72, 't he b at c h b y t e to k e n c o r p u s b y t e mo de l t ra in q u er y f i l t er f i l t er in c o r p u s in de x de d u p le arn le arn b at c h sp ar k sh ar d'),
        |  (59, 90, 'g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph g ra ph'),
        |  (61, 88, 'hash t he f i l t er sc ale sc ale of hash to k e n of s a m p le hash in de x sc ale t ra in sc ale c o r p u s le arn s a m p le m er ge s a m p le data data mo de l a n d le arn hash sh ar d to g ra ph q u er y sh ar d de d u p t he hash'),
        |  (63, 120, 'p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r p a i r'),
        |  (7, 60, 'sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale sc ale'),
        |  (9, 103, 'm er ge t ra in of of data s a m p le f i l t er a n d of b y t e b at c h p a i r hash c o r p u s sc ale b at c h s a m p le q u er y le arn to k e n in de x p a i r sp ar k sp ar k g ra ph de d u p g ra ph q u er y b y t e sc ale t he of de d u p')
        |) AS t(doc_id, n_tokens, tokens)""".stripMargin,
    "t15_compression_signals" ->
      """SELECT CAST(doc_id AS BIGINT) AS doc_id, CAST(n_bytes AS INT) AS n_bytes,
        |  CAST(deflate_bytes AS INT) AS deflate_bytes,
        |  CAST(compression_ratio AS DOUBLE) AS compression_ratio
        |FROM (VALUES
        |  (0, 123, 82, 0.6667),
        |  (1, 140, 87, 0.6214),
        |  (10, 107, 84, 0.785),
        |  (11, 179, 11, 0.0615),
        |  (12, 150, 95, 0.6333),
        |  (13, 148, 91, 0.6149),
        |  (14, 107, 83, 0.7757),
        |  (15, 179, 11, 0.0615),
        |  (16, 207, 113, 0.5459),
        |  (17, 123, 81, 0.6585),
        |  (18, 107, 84, 0.785),
        |  (19, 89, 8, 0.0899),
        |  (2, 107, 85, 0.7944),
        |  (20, 112, 72, 0.6429),
        |  (21, 145, 88, 0.6069),
        |  (22, 107, 84, 0.785),
        |  (23, 89, 8, 0.0899),
        |  (24, 180, 104, 0.5778),
        |  (25, 121, 74, 0.6116),
        |  (26, 107, 84, 0.785),
        |  (27, 179, 11, 0.0615),
        |  (28, 183, 99, 0.541),
        |  (29, 205, 107, 0.522),
        |  (3, 179, 11, 0.0615),
        |  (30, 107, 84, 0.785),
        |  (31, 179, 11, 0.0615),
        |  (32, 202, 112, 0.5545),
        |  (33, 118, 72, 0.6102),
        |  (34, 107, 83, 0.7757),
        |  (35, 179, 11, 0.0615),
        |  (36, 138, 87, 0.6304),
        |  (37, 190, 104, 0.5474),
        |  (38, 107, 84, 0.785),
        |  (39, 179, 11, 0.0615),
        |  (4, 165, 101, 0.6121),
        |  (40, 203, 112, 0.5517),
        |  (41, 132, 80, 0.6061),
        |  (42, 107, 85, 0.7944),
        |  (43, 119, 9, 0.0756),
        |  (44, 185, 101, 0.5459),
        |  (45, 149, 95, 0.6376),
        |  (46, 107, 84, 0.785),
        |  (47, 179, 11, 0.0615),
        |  (48, 191, 104, 0.5445),
        |  (49, 169, 94, 0.5562),
        |  (5, 103, 68, 0.6602),
        |  (50, 107, 84, 0.785),
        |  (51, 209, 12, 0.0574),
        |  (52, 184, 107, 0.5815),
        |  (53, 208, 110, 0.5288),
        |  (54, 107, 83, 0.7757),
        |  (55, 179, 11, 0.0615),
        |  (56, 187, 108, 0.5775),
        |  (57, 116, 79, 0.681),
        |  (58, 107, 84, 0.785),
        |  (59, 179, 11, 0.0615),
        |  (6, 107, 86, 0.8037),
        |  (60, 155, 98, 0.6323),
        |  (61, 186, 106, 0.5699),
        |  (62, 107, 86, 0.8037),
        |  (63, 149, 10, 0.0671),
        |  (7, 179, 11, 0.0615),
        |  (8, 173, 105, 0.6069),
        |  (9, 179, 108, 0.6034)
        |) AS t(doc_id, n_bytes, deflate_bytes, compression_ratio)""".stripMargin,
    "t14_url_signals" ->
      ("WITH " + UrlFixtureSql + "," + """
        |h AS (
        |  SELECT doc_id, url,
        |    lower(CASE WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) <> ''
        |               THEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)
        |               ELSE regexp_extract(url, '^(?:[^/@?#]*@)?([^/:?#]+)', 1) END) AS host,
        |    regexp_matches(lower(CASE WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) <> ''
        |               THEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)
        |               ELSE regexp_extract(url, '^(?:[^/@?#]*@)?([^/:?#]+)', 1) END),
        |      '^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$') AS is_ip
        |  FROM u)
        |SELECT doc_id, url, host,
        |  CASE WHEN is_ip THEN host
        |       WHEN regexp_extract(host, '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|in|nz|za|br))$', 1) <> ''
        |         THEN regexp_extract(host, '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|in|nz|za|br))$', 1)
        |       WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
        |         THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |       ELSE host END AS domain,
        |  CASE WHEN is_ip THEN '' ELSE regexp_extract(host, '([^.]+)$', 1) END AS tld,
        |  CAST(len(regexp_extract_all(
        |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)', 1),
        |    '/[^/]')) AS INT) AS path_depth,
        |  strpos(url, '?') > 0 AS has_query,
        |  is_ip AS is_ip_host
        |FROM h""".stripMargin),
    "d34_temperature_mix" ->
      """WITH sz AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY lang),
        |w AS (SELECT lang, n,
        |        CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS w
        |      FROM sz),
        |sw AS (SELECT CAST(sum(w) AS BIGINT) AS sumw FROM w),
        |thr AS (SELECT lang,
        |  least(1.0, ((CAST(200 AS DOUBLE) * CAST(w AS DOUBLE)) / CAST(sumw AS DOUBLE))
        |             / CAST(n AS DOUBLE)) AS frac
        |  FROM w, sw),
        |hex AS (SELECT lang,
        |  CASE WHEN frac >= 1.0 THEN 'g'
        |       ELSE lower(lpad(to_hex(least(CAST(4294967295 AS BIGINT),
        |              CAST(floor(frac * 4294967296.0 + 0.5) AS BIGINT))), 8, '0')) END AS h
        |  FROM thr)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN hex ON d.lang = hex.lang
        |WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < hex.h""".stripMargin,
    "d33_curation_v2" ->
      """WITH dom AS (
        |  SELECT doc_id, text,
        |    CASE doc_id % 5
        |      WHEN 0 THEN lower(source) || '.com'
        |      WHEN 1 THEN lower(source) || '.co.uk'
        |      WHEN 3 THEN lower(source) || '.org'
        |      ELSE lower(source) || '.net' END AS domain
        |  FROM documents WHERE doc_id % 5 <> 2),
        |capped AS (
        |  SELECT doc_id, text, domain FROM (
        |    SELECT doc_id, text, domain,
        |           row_number() OVER (PARTITION BY domain
        |             ORDER BY substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8),
        |                      doc_id) AS rn
        |    FROM dom) WHERE rn <= 3),
        |en AS (
        |  SELECT doc_id, text, domain FROM (
        |    SELECT doc_id, text, domain,
        |      len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS en,
        |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
        |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr
        |    FROM capped)
        |  WHERE en >= de AND en >= fr),
        |uniq AS (
        |  SELECT doc_id, text, domain FROM (
        |    SELECT doc_id, text, domain,
        |           row_number() OVER (
        |             PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |             ORDER BY doc_id) AS rn
        |    FROM en) WHERE rn = 1),
        |tok AS (
        |  SELECT doc_id, domain,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tokens,
        |    doc_id % 4 AS bucket
        |  FROM uniq),
        |c AS (
        |  SELECT doc_id, domain, tokens, bucket,
        |    COALESCE(SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM tok)
        |SELECT doc_id, domain, tokens, CAST(bucket AS BIGINT) AS bucket,
        |       CAST((cum // 2000) * 4 + bucket AS BIGINT) AS shard
        |FROM c""".stripMargin,
    "d32_domain_cap" ->
      ("WITH " + UrlFixtureSql + "," + """
        |h AS (
        |  SELECT doc_id,
        |    lower(CASE WHEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1) <> ''
        |               THEN regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)', 1)
        |               ELSE regexp_extract(url, '^(?:[^/@?#]*@)?([^/:?#]+)', 1) END) AS host
        |  FROM u),
        |s AS (
        |  SELECT doc_id,
        |    CASE WHEN regexp_matches(host, '^[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}$') THEN host
        |         WHEN regexp_extract(host, '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|in|nz|za|br))$', 1) <> ''
        |           THEN regexp_extract(host, '([^.]+\.(?:co|com|org|net|ac|gov|edu)\.(?:uk|au|jp|in|nz|za|br))$', 1)
        |         WHEN regexp_extract(host, '([^.]+\.[^.]+)$', 1) <> ''
        |           THEN regexp_extract(host, '([^.]+\.[^.]+)$', 1)
        |         ELSE host END AS domain
        |  FROM h)
        |SELECT doc_id, domain FROM (
        |  SELECT doc_id, domain,
        |         row_number() OVER (PARTITION BY domain
        |           ORDER BY substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8),
        |                    doc_id) AS rn
        |  FROM s) WHERE rn <= 3""".stripMargin),
    "d31_line_dedup" ->
      """WITH p0 AS (
        |  SELECT CAST(doc_id // 5 AS BIGINT) AS page,
        |         string_agg(text, chr(10) ORDER BY doc_id) AS body
        |  FROM documents GROUP BY 1),
        |pages AS (
        |  SELECT page, 'SHARE THIS ARTICLE' || chr(10) || body ||
        |    CASE WHEN page % 2 = 0 THEN chr(10) || '  COPYRIGHT 2024 EXAMPLE CORP  '
        |         ELSE chr(10) || 'COPYRIGHT 2024 EXAMPLE CORP' END AS text
        |  FROM p0),
        |sp AS (SELECT page, string_split(text, chr(10)) AS ls FROM pages),
        |ln AS (SELECT page, i.i AS pos, ls[i.i] AS raw,
        |              regexp_replace(ls[i.i], '^\s+|\s+$', '', 'g') AS key
        |       FROM sp, LATERAL (SELECT unnest(generate_series(1, len(ls))) AS i) i),
        |banned AS (SELECT key FROM ln WHERE key <> ''
        |           GROUP BY key HAVING count(DISTINCT page) >= 3),
        |j AS (SELECT l.page, l.pos, l.raw, (b.key IS NOT NULL) AS del
        |      FROM ln l LEFT JOIN banned b ON l.key = b.key)
        |SELECT page,
        |  coalesce(string_agg(raw, chr(10) ORDER BY pos) FILTER (WHERE NOT del), '') AS text,
        |  CAST(count(*) FILTER (WHERE NOT del) AS INT) AS n_kept,
        |  CAST(count(*) FILTER (WHERE del) AS INT) AS n_removed
        |FROM j GROUP BY page""".stripMargin,
    "d29_substring_dedup" ->
      s"""$substringFlaggedCtes,
         |covered AS (
         |  SELECT DISTINCT doc_id, unnest(range(pos, pos + 12)) AS cpos FROM flagged),
         |tokpos AS (
         |  SELECT doc_id, unnest([{'pos': i, 'tok': t[i]} for i in range(1, len(t) + 1)]) AS w
         |  FROM toks),
         |kept AS (
         |  SELECT tp.doc_id, tp.w.pos AS pos, tp.w.tok AS tok
         |  FROM tokpos tp LEFT JOIN covered c
         |    ON tp.doc_id = c.doc_id AND tp.w.pos = c.cpos
         |  WHERE c.doc_id IS NULL)
         |SELECT d.doc_id, coalesce(k.text_deduped, '') AS text_deduped
         |FROM documents d LEFT JOIN (
         |  SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text_deduped
         |  FROM kept GROUP BY doc_id) k USING (doc_id)""".stripMargin,
    "q19_stream_merge" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |  CASE n_nationkey WHEN 0 THEN 'U1_zero' WHEN 1 THEN 'U2_one'
        |                   WHEN 2 THEN 'U3_two' ELSE n_name END AS name
        |FROM nation
        |UNION ALL SELECT * FROM (VALUES
        |  (CAST(100 AS BIGINT), 'new_hundred'),
        |  (CAST(101 AS BIGINT), 'new_hundred_one')) v(id, name)""".stripMargin,
    "q18_stream_interval_join" ->
      """WITH e AS (
        |  SELECT event_id, epoch_ns(ts) // 1000 AS ts_us, user_id, event_type
        |  FROM events WHERE event_id < 2000),
        |c AS (SELECT * FROM e WHERE event_type = 'click'),
        |p AS (SELECT * FROM e WHERE event_type = 'purchase')
        |SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id
        |FROM c JOIN p ON c.user_id = p.user_id
        | AND p.ts_us >= c.ts_us AND p.ts_us <= c.ts_us + 3600000000""".stripMargin,
    // BM25-lite: identical expression TREE as the Spark side — float
    // literals carry e0 so DuckDB parses DOUBLEs (its bare decimals are
    // DECIMAL-typed and would change the arithmetic), and shared factors
    // stay as computations (1.2e0 + 1.0e0), never collapsed literals,
    // because IEEE ops are deterministic but decimal-to-double parsing of
    // a DIFFERENT literal is a different value
    "d26_bm25_topk" -> {
      def term(t: String, dfCol: String): String =
        s"(len(list_filter(t, w -> w = '$t')) * (1.2e0 + 1.0e0) / " +
          s"(len(list_filter(t, w -> w = '$t')) + 1.2e0 * (1.0e0 - 0.75e0 + 0.75e0 * len(t) / avgdl)))" +
          s" * ((n - $dfCol + 0.5e0) / ($dfCol + 0.5e0))"
      s"""WITH toks AS (
         |  SELECT doc_id,
         |    list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
         |                w -> w <> '') AS t
         |  FROM documents),
         |st AS (SELECT count(*) AS n, CAST(sum(len(t)) AS DOUBLE) / count(*) AS avgdl,
         |              sum(CASE WHEN list_contains(t, 'scan') THEN 1 ELSE 0 END) AS df1,
         |              sum(CASE WHEN list_contains(t, 'merge') THEN 1 ELSE 0 END) AS df2,
         |              sum(CASE WHEN list_contains(t, 'window') THEN 1 ELSE 0 END) AS df3
         |       FROM toks),
         |sc AS (SELECT doc_id,
         |  ${term("scan", "df1")}
         |  + ${term("merge", "df2")}
         |  + ${term("window", "df3")} AS score
         |  FROM toks, st)
         |SELECT doc_id, round(score, 6) AS score FROM sc
         |ORDER BY score DESC, doc_id LIMIT 10""".stripMargin
    },
    "s28_partition_evolution" ->
      """SELECT 'rows_total' AS kind, CAST(count(*) AS BIGINT) AS value FROM supplier
        |UNION ALL SELECT 'rows_nation_3', count(*) FROM supplier WHERE s_nationkey = 3
        |UNION ALL SELECT 'partition_values', count(DISTINCT s_nationkey) FROM supplier
        |UNION ALL SELECT 'time_travel_v0_rows', count(*) FROM supplier
        |UNION ALL SELECT 'pruned_files_all_nation_3', 1""".stripMargin,
    "m11_merge_by_source" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CASE WHEN n_nationkey < 15 THEN 'U' || n_name ELSE n_name END AS name,
        |       CASE WHEN n_nationkey >= 15 THEN 'stale' ELSE 'live' END AS status
        |FROM nation WHERE n_nationkey < 20""".stripMargin,
    "s23_sql_merge" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CASE WHEN n_nationkey < 10 THEN 'U' || n_name ELSE n_name END AS name
        |FROM nation WHERE NOT (n_nationkey >= 20 AND n_nationkey < 25)
        |UNION ALL
        |SELECT CAST(n_nationkey + 100 AS BIGINT) AS id, 'new' AS name
        |FROM nation WHERE n_nationkey < 5""".stripMargin,
    "s16_replace_where" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS id,
        |       CASE WHEN o_orderkey <= 1000 THEN -o_totalprice
        |            ELSE o_totalprice END AS price,
        |       CAST(1 AS BIGINT) AS version,
        |       2 * (SELECT count(*) FROM orders WHERE o_orderkey <= 1000) AS n_changes
        |FROM orders""".stripMargin,
    "s4_show_file_sizes" ->
      """SELECT CAST(4 AS BIGINT) AS files_printed,
        |       true AS total_matches, true AS avg_matches""".stripMargin,
    "q4_sessionize" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value
        |  FROM events),
        |x AS (
        |  SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
        |                   OR (ts_us // 1000) - ((lag(ts_us) OVER w) // 1000) > 1800000
        |                 THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |y AS (
        |  SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                          ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts_us) AS session_start_us, max(ts_us) AS session_end_us,
        |       CAST(count(*) AS INT) AS events,
        |       CAST(sum(value) AS BIGINT) AS total_value_e4
        |FROM y GROUP BY user_id, sid""".stripMargin,
    "k3_find_composite_key" ->
      "SELECT 's_suppkey' AS key_columns",
    "q5_asof_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
        |m AS (
        |  SELECT user_id, ts_us AS mts_us, event_id AS marker_id FROM e WHERE event_id % 50 = 0)
        |SELECT e.event_id, e.user_id, m.marker_id
        |FROM e ASOF LEFT JOIN m ON e.user_id = m.user_id AND e.ts_us >= m.mts_us""".stripMargin,
    "q20_stream_quantiles" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS ts_us, event_type,
        |         CAST(floor(value * 10000 + 0.5) AS DOUBLE) AS v
        |  FROM events WHERE event_id < 2000),
        |w AS (
        |  SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us, event_type, v
        |  FROM e),
        |r AS (
        |  SELECT window_start_us, event_type, v,
        |         row_number() OVER (PARTITION BY window_start_us, event_type ORDER BY v) AS rn,
        |         count(*) OVER (PARTITION BY window_start_us, event_type) AS n
        |  FROM w)
        |SELECT window_start_us, event_type,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END) AS p90,
        |  count(*) AS events
        |FROM r GROUP BY 1, 2""".stripMargin,
    "q6_windowed_stream" ->
      """WITH e AS (
        |  SELECT epoch_ns(ts) // 1000 AS ts_us, event_type,
        |         CAST(floor(value * 10000 + 0.5) AS BIGINT) AS value
        |  FROM events WHERE event_id < 2000)
        |SELECT (ts_us // 3600000000) * 3600000000 AS window_start_us,
        |       (ts_us // 3600000000) * 3600000000 + 3600000000 AS window_end_us,
        |       event_type,
        |       count(*) AS events,
        |       CAST(sum(value) AS BIGINT) AS total_value
        |FROM e GROUP BY 1, 2, 3""".stripMargin,
    "q15_stream_dedup" ->
      """SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "q16_stream_curate_sink" ->
      """SELECT DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "q8_stream_sink" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q9_time_travel" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 20",
    "q11_stream_sink_native" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q22_stream_to_table" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "q12_time_travel_timestamp" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey < 10",
    "q14_stream_start_timestamp" ->
      """SELECT CAST(r_regionkey + 20 AS INT) AS r_regionkey, r_name,
        |       'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
        |FROM region""".stripMargin,
    "q17_stream_available_now" ->
      """SELECT CAST(100 + i AS INT) AS r_regionkey,
        |       'catchup' || CAST(i AS VARCHAR) AS r_name,
        |       'insert' AS _change_type,
        |       CAST(i AS BIGINT) AS _commit_version
        |FROM range(1, 6) t(i)""".stripMargin,
    "q10_stream_source" ->
      """SELECT r_regionkey, r_name, 'insert' AS _change_type,
        |       CAST(0 AS BIGINT) AS _commit_version FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name, 'update_preimage', 1 FROM region WHERE r_regionkey = 2
        |UNION ALL
        |SELECT CAST(2 AS INT), 'ATLANTIS', 'update_postimage', 1
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete', 2 FROM region WHERE r_regionkey = 3""".stripMargin,
    "q7_change_stream" ->
      """SELECT r_regionkey, r_name, 'update_preimage' AS _change_type
        |FROM region WHERE r_regionkey = 0
        |UNION ALL
        |SELECT CAST(0 AS INT), 'EUROPA', 'update_postimage'
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete' FROM region WHERE r_regionkey = 4""".stripMargin,
    "k4_is_composite_key" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem) =
        |    (SELECT count(*) FROM (SELECT DISTINCT l_orderkey, l_linenumber FROM lineitem))
        |    AS orderkey_linenumber_is_key,
        |  (SELECT count(*) FROM lineitem) =
        |    (SELECT count(*) FROM (SELECT DISTINCT l_returnflag FROM lineitem))
        |    AS returnflag_is_key""".stripMargin,
    "m2_scd2_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey AS pk, c_mktsegment AS segment, true AS is_current,
        |         TIMESTAMP '2019-01-01 00:00:00' AS effective_time,
        |         CAST(NULL AS TIMESTAMP) AS end_time
        |  FROM customer),
        |upd AS (
        |  SELECT c_custkey AS pk, c_mktsegment || '_NEW' AS segment,
        |         TIMESTAMP '2024-01-01 00:00:00' AS effective_time
        |  FROM customer WHERE c_custkey % 4 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000, 'FRESH', TIMESTAMP '2024-01-01 00:00:00'
        |  FROM customer WHERE c_custkey % 100 = 0)
        |SELECT b.pk, b.segment,
        |       CASE WHEN u.pk IS NOT NULL AND u.segment <> b.segment THEN false ELSE true END AS is_current,
        |       b.effective_time,
        |       CASE WHEN u.pk IS NOT NULL AND u.segment <> b.segment THEN u.effective_time END AS end_time
        |FROM base b LEFT JOIN upd u ON b.pk = u.pk
        |UNION ALL
        |SELECT u.pk, u.segment, true, u.effective_time, CAST(NULL AS TIMESTAMP)
        |FROM upd u LEFT JOIN base b ON u.pk = b.pk
        |WHERE b.pk IS NULL OR u.segment <> b.segment""".stripMargin,
    "m3_kill_duplicates" ->
      "SELECT * FROM part WHERE p_partkey % 7 <> 0",
    "m4_remove_duplicates_pk" ->
      "SELECT * FROM customer",
    "m5_remove_duplicates" ->
      "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    "m6_validate_append" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |UNION ALL
        |SELECT s_suppkey + 10000, s_name, CAST(NULL AS DOUBLE) FROM supplier""".stripMargin,
    "m7_append_without_duplicates" ->
      "SELECT * FROM orders",
    "m9_lineitem_merge" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber, min(l_quantity) AS l_quantity
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_orderkey, l_linenumber,
        |       CASE WHEN l_orderkey % 10 = 0 THEN l_quantity + 1000 ELSE l_quantity END AS l_quantity
        |FROM li
        |UNION ALL
        |SELECT l_orderkey + 100000000, l_linenumber, l_quantity
        |FROM li WHERE l_orderkey % 1000 = 7""".stripMargin,
    "m10_merge_evolution" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id,
        |       CASE WHEN n_nationkey < 10 THEN lower(n_name) ELSE n_name END AS name,
        |       CASE WHEN n_nationkey < 10 THEN CAST(n_regionkey AS BIGINT) END AS region
        |FROM nation
        |UNION ALL
        |SELECT CAST(n_nationkey + 1000 AS BIGINT), n_name, CAST(n_regionkey AS BIGINT)
        |FROM nation WHERE n_nationkey < 5""".stripMargin,
    "m8_copy_table" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation",
    "l1_operation_metrics" ->
      """SELECT CAST(v AS BIGINT) AS version, CAST(d AS BIGINT) AS deleted,
        |       CAST(i AS BIGINT) AS inserted, CAST(u AS BIGINT) AS updated,
        |       CAST(sr AS BIGINT) AS source_rows
        |FROM (VALUES
        |  (2, 0, 0, (SELECT count(*) FROM nation WHERE n_nationkey < 5), 0),
        |  (1, (SELECT count(*) FROM nation WHERE n_nationkey >= 20), 0, 0, 0),
        |  (0, 0, (SELECT count(*) FROM nation), 0, (SELECT count(*) FROM nation))
        |) AS t(v, d, i, u, sr)
        |ORDER BY version DESC""".stripMargin,
    "c1_cdf_read" ->
      """SELECT r_regionkey, r_name, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name, 'update_preimage', 1 FROM region WHERE r_regionkey = 0
        |UNION ALL
        |SELECT CAST(0 AS INT), 'EUROPA', 'update_postimage', 1
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete', 2 FROM region WHERE r_regionkey = 4
        |UNION ALL
        |SELECT CAST(99 AS INT), 'ATLANTIS', 'insert', 3""".stripMargin,
    "c12_cdf_reader_option" ->
      """SELECT r_regionkey, r_name, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name, 'update_preimage', 1 FROM region WHERE r_regionkey = 0
        |UNION ALL
        |SELECT CAST(0 AS INT), 'EUROPA', 'update_postimage', 1
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete', 2 FROM region WHERE r_regionkey = 4
        |UNION ALL
        |SELECT CAST(99 AS INT), 'ATLANTIS', 'insert', 3""".stripMargin,
    "c14_cdf_catalog_read" ->
      """SELECT r_regionkey, r_name, 'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version FROM region
        |UNION ALL
        |SELECT r_regionkey, r_name, 'update_preimage', 1 FROM region WHERE r_regionkey = 0
        |UNION ALL
        |SELECT CAST(0 AS INT), 'EUROPA', 'update_postimage', 1
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete', 2 FROM region WHERE r_regionkey = 4
        |UNION ALL
        |SELECT CAST(99 AS INT), 'ATLANTIS', 'insert', 3""".stripMargin,
    "d1_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM (
        |  SELECT doc_id, lang, source, n_chars,
        |         row_number() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1""".stripMargin,
    "d8_minhash_dedup" ->
      s"""WITH pairs AS (${ngramJaccardOracle(0.5)})
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT idB FROM pairs)""".stripMargin,
    "d11_curation_pipeline" ->
      s"""WITH RECURSIVE kept AS (
         |  SELECT d.* FROM documents d JOIN (
         |    SELECT doc_id,
         |      CASE WHEN en >= de AND en >= fr THEN 'en'
         |           WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred,
         |      words
         |    FROM (SELECT doc_id,
         |        len(regexp_extract_all(lower(text), '\\b(the|and|of|to|in)\\b')) AS en,
         |        len(regexp_extract_all(lower(text), '\\b(der|die|das|und|ist)\\b')) AS de,
         |        len(regexp_extract_all(lower(text), '\\b(le|la|les|et|est)\\b')) AS fr,
         |        len(regexp_extract_all(text, '\\S+')) AS words
         |      FROM documents)) s ON s.doc_id = d.doc_id
         |  WHERE s.lang_pred = 'en' AND s.words >= 20),
         |pairs AS (${ngramJaccardOracle(0.5, "kept")}),
         |edges AS (
         |  SELECT idA AS a, idB AS b FROM pairs
         |  UNION
         |  SELECT idB AS a, idA AS b FROM pairs),
         |reach(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id),
         |cc AS (SELECT id, min(l) AS cluster FROM reach GROUP BY id)
         |SELECT doc_id, lang, source FROM kept
         |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster)""".stripMargin,
    "d9_dedup_clusters" ->
      s"""WITH RECURSIVE pairs AS (${ngramJaccardOracle(0.5)}),
         |edges AS (
         |  SELECT idA AS a, idB AS b FROM pairs
         |  UNION
         |  SELECT idB AS a, idA AS b FROM pairs),
         |reach(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id)
         |SELECT id AS doc_id, min(l) AS cluster FROM reach GROUP BY id""".stripMargin,
    "d10_dedup_cluster_survivors" ->
      s"""WITH RECURSIVE pairs AS (${ngramJaccardOracle(0.5)}),
         |edges AS (
         |  SELECT idA AS a, idB AS b FROM pairs
         |  UNION
         |  SELECT idB AS a, idA AS b FROM pairs),
         |reach(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id),
         |cc AS (SELECT id, min(l) AS cluster FROM reach GROUP BY id)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM cc WHERE id <> cluster)""".stripMargin,
    "s27_distributed_checkpoint" ->
      """SELECT s_suppkey, s_name, true AS ckpt_at_latest
        |FROM supplier WHERE s_suppkey % 3 <> 0""".stripMargin,
    "s25_distributed_snapshot" ->
      """SELECT true AS dist_matches_driver, true AS prune_matches_driver,
        |       true AS contradiction_empty,
        |       (SELECT count(*) FROM nation WHERE n_nationkey < 20) AS live_rows
        |FROM (VALUES (1)) t(x)""".stripMargin,
    "s39_parquet_checkpoint" ->
      """SELECT true AS parquet_dir, true AS head_no_adds, true AS folds_agree,
        |       true AS writers_agree, true AS feature_branded,
        |       (SELECT count(*) FROM customer WHERE c_custkey % 5 <> 0) AS live_rows
        |FROM (VALUES (1)) t(x)""".stripMargin,
    "s40_catalog_roundtrip" ->
      """SELECT n_nationkey,
        |       CASE WHEN n_regionkey = 2 THEN 'X_' || n_name ELSE n_name END AS n_name,
        |       n_regionkey
        |FROM nation
        |UNION ALL SELECT CAST(900 AS INT), 'ATLANTIS', CAST(0 AS INT)
        |UNION ALL SELECT CAST(901 AS INT), 'ELBONIA', CAST(1 AS INT)""".stripMargin,
    "s41_native_row_level_sql" ->
      """WITH base AS (
        |  SELECT s_suppkey, s_name,
        |         CASE WHEN s_suppkey % 4 = 0 THEN s_acctbal + 1000
        |              ELSE s_acctbal END AS s_acctbal
        |  FROM supplier),
        |m AS (SELECT s_suppkey, s_acctbal AS src_bal FROM supplier
        |      WHERE s_suppkey % 3 = 0),
        |kept AS (
        |  SELECT b.s_suppkey, b.s_name,
        |         CASE WHEN m.s_suppkey IS NOT NULL AND m.src_bal >= 3000
        |              THEN m.src_bal * 2 ELSE b.s_acctbal END AS s_acctbal
        |  FROM base b LEFT JOIN m ON b.s_suppkey = m.s_suppkey
        |  WHERE m.s_suppkey IS NULL OR m.src_bal >= 3000),
        |unioned AS (
        |  SELECT * FROM kept
        |  UNION ALL
        |  SELECT CAST(s_suppkey + 1000000 AS INT) AS s_suppkey, s_name, s_acctbal
        |  FROM supplier WHERE s_suppkey % 5 = 0)
        |SELECT s_suppkey, s_name, s_acctbal FROM unioned
        |WHERE NOT (s_acctbal * 2 > 15000)""".stripMargin,
    "s42_uri_table" ->
      """SELECT n_nationkey,
        |       CASE WHEN n_regionkey = 2 THEN 'U_' || n_name ELSE n_name END AS n_name,
        |       n_regionkey
        |FROM nation WHERE n_nationkey % 7 <> 0
        |UNION ALL SELECT CAST(900 AS INT), 'FAUXLAND', CAST(0 AS INT)""".stripMargin,
    "s45_correlated_dml" ->
      """WITH updated AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice,
        |         CASE WHEN EXISTS (
        |                SELECT 1 FROM customer c
        |                WHERE c.c_custkey = o.o_custkey AND c.c_acctbal < 0)
        |              THEN 'N' ELSE o_orderstatus END AS o_orderstatus
        |  FROM orders o)
        |SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM updated u
        |WHERE NOT (NOT EXISTS (
        |             SELECT 1 FROM customer c
        |             WHERE c.c_custkey = u.o_custkey AND c.c_nationkey < 20)
        |           AND u.o_orderkey % 2 = 0)""".stripMargin,
    "s46_scalar_subquery_dml" ->
      """WITH upd1 AS (
        |  SELECT s_suppkey, s_nationkey,
        |         CASE WHEN s_nationkey = 5
        |              THEN s_acctbal + (SELECT avg(s_acctbal) FROM supplier) / 100
        |              ELSE s_acctbal END AS s_acctbal
        |  FROM supplier)
        |SELECT u.s_suppkey, u.s_nationkey,
        |       CASE WHEN n.n_regionkey >= (SELECT avg(n_regionkey) FROM nation)
        |            THEN u.s_acctbal + (SELECT count(*) FROM nation) + n.n_regionkey
        |            ELSE u.s_acctbal END AS s_acctbal
        |FROM upd1 u JOIN nation n ON u.s_nationkey = n.n_nationkey""".stripMargin,
    "s43_subquery_dml" ->
      """WITH top3 AS (
        |  SELECT c_nationkey FROM customer
        |  GROUP BY c_nationkey ORDER BY count(*) DESC, c_nationkey LIMIT 3),
        |updated AS (
        |  SELECT c_custkey, c_name,
        |         CASE WHEN c_nationkey IN (SELECT c_nationkey FROM top3)
        |              THEN c_acctbal + 500 ELSE c_acctbal END AS c_acctbal,
        |         c_nationkey
        |  FROM customer)
        |SELECT c_custkey, c_name, c_acctbal, c_nationkey FROM updated
        |WHERE NOT (c_acctbal < (SELECT avg(c_acctbal) FROM customer) / 10
        |           AND c_custkey % 2 = 0)""".stripMargin,
    "s3_humanize_bytes" ->
      """SELECT CAST(case_id AS INT) AS case_id, humanized FROM (VALUES
        | (1, '0 B'), (2, '512 B'), (3, '1.2 kB'), (4, '1.0 MB'), (5, '5.5 MB'),
        | (6, '3.2 GB'), (7, '1.7 TB'), (8, '2.5 PB'), (9, '-1.2 kB')
        |) t(case_id, humanized)""".stripMargin,
    "s10_storage_location" ->
      "SELECT true AS location_matches_path, true AS location_nonempty",
    "t1_lang_id" ->
      """WITH scores AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS BIGINT) AS en_score,
        |    CAST(len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS BIGINT) AS de_score,
        |    CAST(len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS BIGINT) AS fr_score
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN en_score >= de_score AND en_score >= fr_score THEN 'en'
        |       WHEN de_score >= fr_score THEN 'de' ELSE 'fr' END AS lang_pred,
        |  en_score, de_score, fr_score
        |FROM scores""".stripMargin,
    "t2_quality_score" ->
      """SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS chars,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS words,
        |  CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT) AS punct,
        |  CAST(len(regexp_extract_all(lower(text), '\b(the|a|an|is|are|was|of|to)\b')) AS BIGINT) AS stopwords
        |FROM documents""".stripMargin,
    "t3_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS bpeish_tokens
        |FROM documents""".stripMargin,
    "t4_fingerprint" ->
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint
        |FROM documents""".stripMargin,
    "t5_repetition_signals" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |wc AS (SELECT doc_id, w, count(*) AS c FROM toks WHERE w <> '' GROUP BY 1, 2),
        |agg AS (SELECT doc_id, sum(c) AS words, count(*) AS distinct_words, max(c) AS top_cnt,
        |               CAST(sum(c * length(w)) AS DOUBLE) / sum(c) AS mwl
        |        FROM wc GROUP BY 1)
        |SELECT doc_id, CAST(words AS BIGINT) AS words,
        |  CAST(distinct_words AS BIGINT) AS distinct_words,
        |  round(1 - CAST(distinct_words AS DOUBLE) / words, 6) AS dup_word_frac,
        |  round(CAST(top_cnt AS DOUBLE) / words, 6) AS top_word_frac,
        |  round(mwl, 6) AS mean_word_len,
        |  ((1 - CAST(distinct_words AS DOUBLE) / words) <= 0.85
        |   AND CAST(top_cnt AS DOUBLE) / words <= 0.2) AS repetition_ok
        |FROM agg""".stripMargin,
    "t6_pii_redact" ->
      """WITH pii AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com from 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.' || CAST(doc_id % 100 AS VARCHAR) ||
        |    ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t, '\+?\d[\d-]{6,}\d')) AS BIGINT) AS n_phones,
        |  md5(regexp_replace(regexp_replace(regexp_replace(t,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
        |      '\+?\d[\d-]{6,}\d', '[PHONE]', 'g')) AS redacted_md5
        |FROM pii""".stripMargin,
    "t7_vocab_stats" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |byword AS (
        |  SELECT w AS word, count(*) AS occurrences, count(DISTINCT doc_id) AS doc_freq
        |  FROM toks WHERE w <> '' GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY occurrences DESC, word) AS INT) AS rank,
        |       word, CAST(occurrences AS BIGINT) AS occurrences,
        |       CAST(doc_freq AS BIGINT) AS doc_freq
        |FROM byword
        |ORDER BY occurrences DESC, word
        |LIMIT 50""".stripMargin,
    "t8_frequent_tokens" ->
      """WITH toks AS (
        |  SELECT unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents)
        |SELECT w AS token, count(*) AS count_lower, CAST(0 AS BIGINT) AS max_error
        |FROM toks WHERE w <> '' GROUP BY w""".stripMargin,
    "t9_length_quantiles" ->
      """WITH l AS (
        |  SELECT lang, CAST(strlen(text) AS DOUBLE) AS v FROM documents),
        |r AS (
        |  SELECT lang, v, row_number() OVER (PARTITION BY lang ORDER BY v) AS rn,
        |         count(*) OVER (PARTITION BY lang) AS n
        |  FROM l)
        |SELECT lang,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * n) AS BIGINT) THEN v END) AS p50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * n) AS BIGINT) THEN v END) AS p90,
        |  max(CASE WHEN rn = n THEN v END) AS p100,
        |  count(*) AS n_docs
        |FROM r GROUP BY lang""".stripMargin,
    "t11_chunking" ->
      """WITH tt AS (
        |  SELECT doc_id, list_filter(string_split_regex(trim(text), '\s+'), w -> w <> '') AS t
        |  FROM documents),
        |n AS (SELECT doc_id, t, len(t) AS n FROM tt WHERE len(t) > 0),
        |c AS (
        |  SELECT doc_id, t, n, g.i AS chunk_idx
        |  FROM n, range(256) g(i)
        |  WHERE g.i = 0 OR g.i * 56 < n - 8)
        |SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
        |  CAST(len(list_slice(t, chunk_idx * 56 + 1, least(chunk_idx * 56 + 64, n))) AS INT) AS n_tokens,
        |  array_to_string(list_slice(t, chunk_idx * 56 + 1, least(chunk_idx * 56 + 64, n)), ' ') AS chunk_text
        |FROM c""".stripMargin,
    "t10_ngram_lm_score" ->
      """WITH tr AS (
        |  SELECT list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                     w -> w <> '') AS t
        |  FROM documents WHERE doc_id % 2 = 0),
        |uni AS (
        |  SELECT u.w1, count(*) AS uc
        |  FROM (SELECT unnest(t) AS w1 FROM tr) u GROUP BY 1),
        |vv AS (SELECT count(*) AS v FROM uni),
        |big AS (
        |  SELECT e[1] AS w1, e[2] AS w2, count(*) AS bc FROM (
        |    SELECT unnest(list_zip(list_slice(t, 1, len(t) - 1), list_slice(t, 2, len(t)))) AS e
        |    FROM tr WHERE len(t) >= 2) z GROUP BY 1, 2),
        |ev AS (
        |  SELECT doc_id, list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '),
        |                             w -> w <> '') AS t
        |  FROM documents WHERE doc_id % 2 = 1),
        |eb AS (
        |  SELECT doc_id, e[1] AS w1, e[2] AS w2 FROM (
        |    SELECT doc_id, unnest(list_zip(list_slice(t, 1, len(t) - 1), list_slice(t, 2, len(t)))) AS e
        |    FROM ev WHERE len(t) >= 2) z),
        |p AS (
        |  SELECT doc_id,
        |    CAST(floor((COALESCE(bc, 0) + 1.0) / (COALESCE(uc, 0) + (SELECT v FROM vv)) * 1e9 + 0.5) AS BIGINT) AS pe9
        |  FROM eb LEFT JOIN big USING (w1, w2) LEFT JOIN uni ON eb.w1 = uni.w1)
        |SELECT doc_id, count(*) AS n_bigrams,
        |  CAST(sum(pe9) AS BIGINT) AS prob_e9_sum,
        |  round(CAST(sum(pe9) AS BIGINT) / (count(*) * 1e9), 6) AS avg_prob
        |FROM p GROUP BY doc_id""".stripMargin,
    "d19_weighted_mix" -> {
      val en = Sampling.fractionThresholdHex(0.5)
      val de = Sampling.fractionThresholdHex(0.25)
      val fr = Sampling.fractionThresholdHex(0.1)
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) <
         |  CASE lang WHEN 'en' THEN '$en' WHEN 'de' THEN '$de'
         |            WHEN 'fr' THEN '$fr' ELSE '00000000' END""".stripMargin
    },
    "d20_epoch_upsampling" ->
      """SELECT doc_id, lang, copy FROM (
        |  SELECT doc_id, lang,
        |    unnest(generate_series(0, CASE lang WHEN 'en' THEN 2
        |                                        WHEN 'de' THEN 1 ELSE 0 END)) AS copy
        |  FROM documents)""".stripMargin,
    "d18_embedding_dedup_against" ->
      """SELECT vec_id + 200000 AS vec_id
        |FROM embeddings WHERE vec_id % 50 = 25""".stripMargin,
    "d17_dedup_keep_best" ->
      s"""WITH RECURSIVE pairs AS (${ngramJaccardOracle(0.5)}),
         |edges AS (
         |  SELECT idA AS a, idB AS b FROM pairs
         |  UNION
         |  SELECT idB AS a, idA AS b FROM pairs),
         |reach(id, l) AS (
         |  SELECT a, a FROM edges
         |  UNION
         |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id),
         |cc AS (SELECT id, min(l) AS cluster FROM reach GROUP BY id),
         |tok AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) AS tokens
         |  FROM documents),
         |ranked AS (
         |  SELECT c.id, row_number() OVER (PARTITION BY c.cluster
         |           ORDER BY t.tokens DESC, c.id) AS rn
         |  FROM cc c JOIN tok t ON t.doc_id = c.id)
         |SELECT doc_id, lang, source FROM documents
         |WHERE doc_id NOT IN (SELECT id FROM ranked WHERE rn > 1)""".stripMargin,
    "d16_shard_builder" ->
      """WITH scored AS (
        |  SELECT doc_id, text, source,
        |    CASE WHEN en >= de AND en >= fr THEN 'en'
        |         WHEN de >= fr THEN 'de' ELSE 'fr' END AS lang_pred,
        |    words
        |  FROM (SELECT doc_id, text, source,
        |      len(regexp_extract_all(lower(text), '\b(the|and|of|to|in)\b')) AS en,
        |      len(regexp_extract_all(lower(text), '\b(der|die|das|und|ist)\b')) AS de,
        |      len(regexp_extract_all(lower(text), '\b(le|la|les|et|est)\b')) AS fr,
        |      len(regexp_extract_all(text, '\S+')) AS words
        |    FROM documents)),
        |kept AS (SELECT * FROM scored WHERE lang_pred = 'en' AND words >= 20),
        |uniq AS (
        |  SELECT doc_id, text, source FROM (
        |    SELECT doc_id, text, source,
        |           row_number() OVER (
        |             PARTITION BY md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))
        |             ORDER BY doc_id) AS rn
        |    FROM kept) WHERE rn = 1),
        |samp AS (
        |  SELECT doc_id, text, source FROM (
        |    SELECT doc_id, text, source,
        |           row_number() OVER (PARTITION BY source
        |             ORDER BY substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8),
        |                      doc_id) AS rn
        |    FROM uniq) WHERE rn <= 60),
        |tok AS (
        |  SELECT doc_id, source,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tokens,
        |    doc_id % 4 AS bucket
        |  FROM samp),
        |c AS (
        |  SELECT doc_id, source, tokens, bucket,
        |    COALESCE(SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM tok)
        |SELECT doc_id, source, tokens, CAST(bucket AS BIGINT) AS bucket,
        |       CAST((cum // 4000) * 4 + bucket AS BIGINT) AS shard
        |FROM c""".stripMargin,
    "d15_dedup_against" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3
        |      THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |      ELSE list_distinct([array_to_string(t, ' ')]) END AS g
        |  FROM toks),
        |hits AS (
        |  SELECT DISTINCT a.doc_id FROM grams a, grams b
        |  WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0
        |    AND CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
        |        / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g))) >= 0.5)
        |SELECT doc_id, lang, source FROM documents
        |WHERE doc_id % 2 = 1 AND doc_id NOT IN (SELECT doc_id FROM hits)""".stripMargin,
    "d12_stratified_sample" ->
      """SELECT doc_id, lang, source FROM (
        |  SELECT doc_id, lang, source,
        |         row_number() OVER (PARTITION BY lang
        |           ORDER BY substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8),
        |                    doc_id) AS rn
        |  FROM documents) WHERE rn <= 120""".stripMargin,
    "d13_hash_sample" ->
      """SELECT doc_id, lang, source FROM documents
        |WHERE substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 8) < '40000000'""".stripMargin,
    "d14_pack_shards" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS tokens,
        |    doc_id % 8 AS bucket
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, tokens, bucket,
        |    COALESCE(SUM(tokens) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum
        |  FROM d)
        |SELECT doc_id, tokens, CAST(bucket AS BIGINT) AS bucket,
        |       CAST((cum // 2000) * 8 + bucket AS BIGINT) AS shard,
        |       CAST(cum - (cum // 2000) * 2000 AS BIGINT) AS offset
        |FROM c""".stripMargin,
    "d2_minhash_pairs" -> ngramJaccardOracle(0.5),
    "d3_simhash_pairs" -> simhashPairsOracle,
    "d30_ensemble_pairs" ->
      s"""WITH jac AS ($ngram05Oracle),
         |sim AS ($simhashPairsOracle)
         |SELECT jac.idA, jac.idB, jac.jaccard, sim.hamming
         |FROM jac JOIN sim ON jac.idA = sim.idA AND jac.idB = sim.idB""".stripMargin,
    "mm1_multimodal_features" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS asset_id,
        |       (['image','audio','video'])[CAST(n_nationkey % 3 AS INT) + 1] AS modality,
        |       CAST(64 + n_nationkey % 192 AS BIGINT) AS byte_size,
        |       upper(substring(md5(CAST(n_nationkey AS VARCHAR) || '-0'), 1, 16)) AS payload_head
        |FROM nation""".stripMargin,
    "mm2_image_decode" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS asset_id,
        |       CAST(8 + s_suppkey % 25 AS INT) AS width,
        |       CAST(8 + (s_suppkey // 25) % 25 AS INT) AS height,
        |       CAST(s_suppkey % 256 AS INT) AS mean_luma
        |FROM supplier""".stripMargin,
    "mm3_audio_decode" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS asset_id,
        |       CAST(44 + 2 * (50 + s_suppkey % 100) AS BIGINT) AS byte_size,
        |       CAST(8000 + (s_suppkey % 5) * 2000 AS INT) AS sample_rate,
        |       CAST(1 AS INT) AS channels,
        |       CAST(50 + s_suppkey % 100 AS BIGINT) AS num_frames,
        |       CAST(s_suppkey % 1000 + 1 AS INT) AS rms_amp
        |FROM supplier""".stripMargin,
    "s12_bloom_skipping" ->
      """SELECT (SELECT count(*) FROM orders) AS total_rows,
        |       (SELECT count(*) FROM orders WHERE o_orderkey = 1234) AS present_rows,
        |       CAST(0 AS BIGINT) AS absent_rows,
        |       CAST(8 AS INT) AS files_total,
        |       true AS present_scan_ok, true AS absent_skip_ok""".stripMargin,
    "s11_zorder_skipping" ->
      """SELECT (SELECT count(*) FROM orders) AS total_rows,
        |       (SELECT count(*) FROM orders
        |        WHERE o_orderkey <= (SELECT max(o_orderkey) // 60 FROM orders)) AS key_range_rows,
        |       (SELECT count(*) FROM orders
        |        WHERE o_custkey <= (SELECT max(o_custkey) // 15 FROM orders)) AS cust_range_rows,
        |       CAST(8 AS INT) AS files_total,
        |       true AS key_skip_ok, true AS cust_skip_ok""".stripMargin,
    "mm4_video_decode" ->
      """WITH p AS (SELECT CAST(s_suppkey AS BIGINT) AS id FROM supplier)
        |SELECT id AS asset_id,
        |       CAST(16 + (id % 4) * 8 AS INT) AS width,
        |       CAST(8 + (id % 5) * 4 AS INT) AS height,
        |       CAST(5 + id % 10 AS INT) AS fps,
        |       CAST(2 + id % 6 AS INT) AS num_frames,
        |       CAST(t.i AS INT) AS frame_idx,
        |       CAST((id * 31 + t.i * 17) % 256 AS INT) AS mean_luma
        |FROM p, range(8) t(i)
        |WHERE t.i < 2 + id % 6 AND t.i % 2 = 0""".stripMargin,
    "mm5_image_near_dup" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |g AS (
        |  SELECT id, tx.x, ty.y,
        |    CASE WHEN (((id // 8) * 7 + tx.x * 3 + ty.y * 5) % 11 < 5)
        |           != (id % 8 = 7 AND tx.x = 4 AND ty.y = 3)
        |         THEN 40 ELSE 200 END AS v
        |  FROM ids, range(9) tx(x), range(8) ty(y)),
        |h AS (
        |  SELECT a.id,
        |    CAST(SUM(CASE WHEN b.v > a.v THEN
        |      CASE WHEN a.y * 8 + a.x = 63 THEN (-9223372036854775807 - 1)
        |           ELSE CAST(1 AS BIGINT) << CAST(a.y * 8 + a.x AS INT) END
        |      ELSE 0 END) AS BIGINT) AS dh
        |  FROM g a JOIN g b ON a.id = b.id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8
        |  GROUP BY a.id)
        |SELECT a.id AS idA, b.id AS idB,
        |       CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3""".stripMargin,
    "mm7_image_dedup_survivors" ->
      """WITH RECURSIVE ids AS (SELECT doc_id AS id FROM documents),
        |g AS (
        |  SELECT id, tx.x, ty.y,
        |    CASE WHEN (((id // 8) * 7 + tx.x * 3 + ty.y * 5) % 11 < 5)
        |           != (id % 8 = 7 AND tx.x = 4 AND ty.y = 3)
        |         THEN 40 ELSE 200 END AS v
        |  FROM ids, range(9) tx(x), range(8) ty(y)),
        |h AS (
        |  SELECT a.id,
        |    CAST(SUM(CASE WHEN b.v > a.v THEN
        |      CASE WHEN a.y * 8 + a.x = 63 THEN (-9223372036854775807 - 1)
        |           ELSE CAST(1 AS BIGINT) << CAST(a.y * 8 + a.x AS INT) END
        |      ELSE 0 END) AS BIGINT) AS dh
        |  FROM g a JOIN g b ON a.id = b.id AND b.y = a.y AND b.x = a.x + 1
        |  WHERE a.x < 8
        |  GROUP BY a.id),
        |reps AS (SELECT dh, min(id) AS rid FROM h GROUP BY dh),
        |rpairs AS (
        |  SELECT a.rid AS pa, b.rid AS pb
        |  FROM reps a JOIN reps b ON a.rid < b.rid
        |  WHERE bit_count(xor(a.dh, b.dh)) <= 3),
        |edges AS (
        |  SELECT pa AS a, pb AS b FROM rpairs
        |  UNION
        |  SELECT pb AS a, pa AS b FROM rpairs),
        |reach(id, l) AS (
        |  SELECT a, a FROM edges
        |  UNION
        |  SELECT e.b, r.l FROM reach r JOIN edges e ON e.a = r.id),
        |cc AS (SELECT id, min(l) AS cluster FROM reach GROUP BY id)
        |SELECT h.id AS asset_id
        |FROM h JOIN reps ON h.dh = reps.dh
        |LEFT JOIN cc ON cc.id = reps.rid
        |WHERE h.id = reps.rid AND (cc.id IS NULL OR cc.cluster = reps.rid)""".stripMargin,
    "mm6_audio_near_dup" ->
      """WITH ids AS (SELECT doc_id AS id FROM documents),
        |g AS (
        |  SELECT id, tj.j,
        |    CASE WHEN (((id // 8) * 13 + tj.j * 7) % 17 < 8)
        |           != (id % 8 = 7 AND tj.j = 30)
        |         THEN 1000 ELSE 4000 END AS v
        |  FROM ids, range(65) tj(j)),
        |h AS (
        |  SELECT a.id,
        |    CAST(SUM(CASE WHEN b.v > a.v THEN
        |      CASE WHEN a.j = 63 THEN (-9223372036854775807 - 1)
        |           ELSE CAST(1 AS BIGINT) << CAST(a.j AS INT) END
        |      ELSE 0 END) AS BIGINT) AS dh
        |  FROM g a JOIN g b ON a.id = b.id AND b.j = a.j + 1
        |  WHERE a.j < 64
        |  GROUP BY a.id)
        |SELECT a.id AS idA, b.id AS idB,
        |       CAST(bit_count(xor(a.dh, b.dh)) AS INT) AS hamming
        |FROM h a JOIN h b ON a.id < b.id
        |WHERE bit_count(xor(a.dh, b.dh)) <= 3""".stripMargin,
    "s5_size_distribution" ->
      """SELECT DISTINCT CAST(s_suppkey % 4 AS BIGINT) AS bucket,
        |       CAST(1 AS BIGINT) AS num_of_parquet_files,
        |       true AS degenerate_range,
        |       true AS stddev_degenerate,
        |       true AS percentiles_degenerate
        |FROM supplier""".stripMargin,
    "s6_size_distribution_mb" ->
      """SELECT DISTINCT CAST(s_suppkey % 4 AS BIGINT) AS bucket,
        |       CAST(1 AS BIGINT) AS num_of_parquet_files,
        |       true AS mb_matches_bytes
        |FROM supplier""".stripMargin,
    "s7_record_distribution" ->
      """SELECT CAST(s_suppkey % 4 AS BIGINT) AS bucket,
        |       CAST(1 AS BIGINT) AS num_of_parquet_files,
        |       CAST(count(*) AS BIGINT) AS mean_records,
        |       CAST(count(*) AS BIGINT) AS min_records,
        |       CAST(count(*) AS BIGINT) AS max_records,
        |       CAST(count(*) AS BIGINT) AS median_records
        |FROM supplier GROUP BY 1""".stripMargin,
    "c2_dryrun" ->
      """SELECT CAST(case_id AS INT) AS case_id, outcome, message FROM (VALUES
        | (1, 'ok', ''),
        | (2, 'assertion', 'assertion failed: Change Data for provided versions are not available. Available CDC versions are between 2 and 3'),
        | (3, 'assertion', 'assertion failed: CDC has been disabled between provided versions : 1 and 5 . Use getRangesForCDFEnabledVersions to find exact versions between which CDC is available'),
        | (4, 'illegal_state', 'Please run methods individually to debug issues with CDF.')
        |) t(case_id, outcome, message)""".stripMargin,
    "c4_available_cdc" ->
      "SELECT CAST(2 AS BIGINT) AS cdc_start, CAST(3 AS BIGINT) AS cdc_end",
    "c3_log_versions" ->
      """SELECT kind, CAST(e AS BIGINT) AS earliest, CAST(l AS BIGINT) AS latest
        |FROM (VALUES ('raw_log', 3, 4), ('checkpoint', 2, 4)) t(kind, e, l)""".stripMargin,
    "c8_cdf_ranges" ->
      """SELECT kind, CAST(range_start AS BIGINT) AS range_start,
        |       CAST(range_end AS BIGINT) AS range_end
        |FROM (VALUES ('enabled', 0, 1), ('enabled', 4, 5),
        |             ('disabled', 2, 3)) t(kind, range_start, range_end)""".stripMargin,
    "c9_read_missing_log" ->
      """SELECT r_regionkey, r_name, 'update_preimage' AS _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM region WHERE r_regionkey = 1
        |UNION ALL
        |SELECT CAST(1 AS INT), 'ZEPHYR', 'update_postimage', 2
        |UNION ALL
        |SELECT CAST(99 AS INT), 'ATLANTIS', 'insert', 3""".stripMargin,
    "c10_read_missing_cdc" ->
      """SELECT r_regionkey, r_name, 'update_preimage' AS _change_type,
        |       CAST(2 AS BIGINT) AS _commit_version
        |FROM region WHERE r_regionkey = 1
        |UNION ALL
        |SELECT CAST(1 AS INT), 'ZEPHYR', 'update_postimage', 2
        |UNION ALL
        |SELECT r_regionkey, r_name, 'delete', 3 FROM region WHERE r_regionkey = 4""".stripMargin,
    "c11_read_edr" ->
      """SELECT n_nationkey AS id, n_name AS name, 'insert' AS _change_type,
        |       CAST(0 AS BIGINT) AS _commit_version
        |FROM nation
        |UNION ALL
        |SELECT n_nationkey, n_name, 'update_preimage', 1 FROM nation WHERE n_nationkey < 3
        |UNION ALL
        |SELECT n_nationkey, n_name || '_1', 'update_postimage', 1 FROM nation WHERE n_nationkey < 3
        |UNION ALL
        |SELECT n_nationkey, n_name || '_2', 'update_preimage', 5 FROM nation WHERE n_nationkey < 3
        |UNION ALL
        |SELECT n_nationkey, n_name || '_3', 'update_postimage', 5 FROM nation WHERE n_nationkey < 3""".stripMargin,
    "c7_group_versions" ->
      """SELECT CAST(case_id AS INT) AS case_id,
        |       CAST(range_start AS BIGINT) AS range_start,
        |       CAST(range_end AS BIGINT) AS range_end
        |FROM (VALUES (1, 0, 2), (1, 7, 8), (1, 12, 13),
        |             (2, 5, -1), (2, 9, 10),
        |             (3, 3, 4),
        |             (4, -100, -100)) t(case_id, range_start, range_end)""".stripMargin,
    "l8_split_condition" ->
      """SELECT CAST(case_id AS INT) AS case_id, key, value
        |FROM (VALUES (1, 'country', 'USA'), (1, 'gender', 'Female'),
        |             (2, 'country', 'USA'),
        |             (3, 'country', 'IND')) t(case_id, key, value)""".stripMargin,
    "s2_file_sizes" ->
      """SELECT CAST(s_suppkey % 4 AS BIGINT) AS bucket,
        |       count(*) AS num_records,
        |       CAST(4 AS BIGINT) AS number_of_files,
        |       CAST(0 AS BIGINT) AS version
        |FROM supplier GROUP BY 1""".stripMargin,
    "l2_count_metrics_partition" ->
      """WITH n AS (SELECT count(*) AS c FROM customer WHERE c_mktsegment = 'AUTOMOBILE')
        |SELECT CAST(v AS BIGINT) AS version, CAST(d AS BIGINT) AS deleted,
        |       CAST(i AS BIGINT) AS inserted, CAST(u AS BIGINT) AS updated,
        |       CAST(sr AS BIGINT) AS source_rows
        |FROM (VALUES
        |  (1, (SELECT c FROM n), 0, 0, 0),
        |  (0, 0, (SELECT c FROM n), 0, (SELECT c FROM n))
        |) t(v, d, i, u, sr)
        |ORDER BY version DESC""".stripMargin,
    "s9_shuffle_file_metadata" ->
      """WITH w AS (SELECT max(o_orderkey) // 8 + 1 AS width FROM orders),
        |b AS (SELECT o_orderkey // width AS bucket,
        |             min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |      FROM orders, w GROUP BY 1),
        |s AS (SELECT bucket FROM b WHERE mn <= 200 AND mx >= 100)
        |SELECT 'overall' AS kind, CAST(bucket AS BIGINT) AS value FROM s
        |UNION ALL SELECT 'minMax', CAST(bucket AS BIGINT) FROM s
        |UNION ALL SELECT 'equals_files', (SELECT count(*) FROM b)
        |UNION ALL SELECT 'leftover_files', (SELECT count(*) FROM b)
        |UNION ALL SELECT 'unresolved_files', (SELECT count(*) FROM b)
        |UNION ALL SELECT 'files_df_rows', (SELECT count(*) FROM b)
        |UNION ALL SELECT 'unresolved_columns', 0""".stripMargin,
    "s48_like_skipping" ->
      """WITH w AS (SELECT max(c_custkey) // 8 + 1 AS width FROM customer),
        |b AS (SELECT c_custkey // width AS bucket,
        |             min(c_name) AS mn, max(c_name) AS mx
        |      FROM customer, w GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM b
        |             WHERE mx >= 'Customer#0000001'
        |               AND mn < 'Customer#0000002') AS BIGINT) AS files_scanned,
        |       (SELECT count(*) FROM b) AS total_files,
        |       (SELECT count(*) FROM customer
        |        WHERE c_name LIKE 'Customer#0000001%') AS rows_matching""".stripMargin,
    "s53_unicode_partitions" ->
      """SELECT n_nationkey, n_name,
        |       CASE WHEN n_nationkey % 2 = 0 THEN chr(57344)
        |            ELSE chr(128512) END AS tag
        |FROM nation""".stripMargin,
    "s56_dynamic_overwrite" ->
      """SELECT CASE WHEN n_regionkey IN (1, 3) THEN n_nationkey + 1000
        |            ELSE n_nationkey END AS n_nationkey,
        |       CASE WHEN n_regionkey IN (1, 3) THEN upper(n_name)
        |            ELSE n_name END AS n_name,
        |       n_regionkey,
        |       (SELECT count(*) FROM nation WHERE n_regionkey IN (1, 3)) AS cdf_deletes,
        |       (SELECT count(*) FROM nation WHERE n_regionkey IN (1, 3)) AS cdf_inserts,
        |       CAST(0 AS BIGINT) AS change_files_written,
        |       (SELECT count(*) FROM nation) AS tt_rows
        |FROM nation""".stripMargin,
    "s55_table_changes" ->
      """SELECT n_nationkey, upper(n_name) AS n_name,
        |       'update_postimage' AS _change_type
        |FROM nation WHERE n_nationkey % 3 = 0
        |UNION ALL
        |SELECT n_nationkey, n_name, 'update_preimage' FROM nation
        |WHERE n_nationkey % 3 = 0
        |UNION ALL
        |SELECT n_nationkey,
        |       CASE WHEN n_nationkey % 3 = 0 THEN upper(n_name) ELSE n_name END,
        |       'delete'
        |FROM nation WHERE n_nationkey % 5 = 4""".stripMargin,
    "s61_merge_on_in" ->
      """WITH src AS (SELECT s_suppkey * 20 AS k, s_nationkey, s_acctbal FROM supplier),
        |cgate AS (
        |  SELECT c.*, (c.c_nationkey IN (SELECT n_nationkey FROM nation
        |                                 WHERE n_regionkey >= 2)) AS ok
        |  FROM customer c),
        |m AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, s.k, s.s_acctbal
        |  FROM cgate c LEFT JOIN src s ON c.c_custkey = s.k AND c.ok),
        |upd AS (
        |  SELECT c_custkey, c_nationkey,
        |         CASE WHEN k IS NOT NULL THEN s_acctbal ELSE c_acctbal END AS c_acctbal
        |  FROM m),
        |ins AS (
        |  SELECT s.k + 1000000 AS c_custkey, s.s_nationkey AS c_nationkey,
        |         s.s_acctbal AS c_acctbal
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM cgate c
        |                    WHERE c.c_custkey = s.k AND c.ok))
        |SELECT * FROM upd UNION ALL SELECT * FROM ins""".stripMargin,
    "s60_copy_into" ->
      """SELECT s_suppkey, s_name, s_acctbal,
        |       CAST(0 AS BIGINT) AS rerun_rows,
        |       CAST(0 AS BIGINT) AS rerun_copied,
        |       CAST(2 AS BIGINT) AS rerun_skipped
        |FROM supplier""".stripMargin,
    "s59_deep_clone" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |       (SELECT count(*) FROM orders WHERE o_orderkey % 3 <> 0) AS src_rows_after,
        |       false AS clone_is_shallow
        |FROM orders""".stripMargin,
    "s57_setvalued_set" ->
      """SELECT c_custkey, c_nationkey,
        |       CASE WHEN c_custkey % 2 = 0 AND EXISTS (SELECT 1 FROM nation n
        |                                               WHERE n.n_nationkey = c.c_nationkey
        |                                                 AND n.n_regionkey = 0)
        |            THEN c_acctbal + 500.0 ELSE c_acctbal END AS c_acctbal,
        |       CASE WHEN c_custkey % 2 = 0
        |            THEN c_nationkey IN (SELECT n_nationkey FROM nation
        |                                 WHERE n_regionkey >= 3)
        |            ELSE false END AS flagged
        |FROM customer c""".stripMargin,
    "s58_setvalued_merge" ->
      """WITH src AS (SELECT s_suppkey * 20 AS k, s_nationkey, s_acctbal FROM supplier),
        |m AS (
        |  SELECT c.c_custkey, c.c_nationkey, c.c_acctbal, s.k, s.s_nationkey, s.s_acctbal,
        |         (c.c_nationkey IN (SELECT n_nationkey FROM nation
        |                            WHERE n_regionkey >= 2)) AS upd_gate,
        |         (NOT EXISTS (SELECT 1 FROM nation n
        |                      WHERE n.n_nationkey = c.c_nationkey
        |                        AND n.n_regionkey = 1)) AS del_gate
        |  FROM customer c LEFT JOIN src s ON c.c_custkey = s.k),
        |kept AS (
        |  SELECT c_custkey, c_nationkey,
        |         CASE WHEN k IS NOT NULL AND upd_gate THEN s_acctbal
        |              ELSE c_acctbal END AS c_acctbal
        |  FROM m
        |  WHERE NOT (k IS NOT NULL AND NOT upd_gate AND del_gate)),
        |ins AS (
        |  SELECT s.k + 2000000 AS c_custkey, s.s_nationkey AS c_nationkey,
        |         s.s_acctbal AS c_acctbal
        |  FROM src s
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = s.k)
        |    AND s.s_nationkey IN (SELECT n_nationkey FROM nation
        |                          WHERE n_regionkey <= 1))
        |SELECT * FROM kept UNION ALL SELECT * FROM ins""".stripMargin,
    "s54_correlated_merge" ->
      """WITH src AS (SELECT s_suppkey * 20 AS k, s_nationkey, s_acctbal FROM supplier),
        |upd AS (
        |  SELECT c.c_custkey, c.c_nationkey,
        |         CASE WHEN s.k IS NOT NULL AND
        |                   (SELECT max(n_regionkey) FROM nation n
        |                    WHERE n.n_nationkey = c.c_nationkey) >= 2
        |              THEN s.s_acctbal + (SELECT 100.0 * min(n_regionkey) FROM nation n
        |                                  WHERE n.n_nationkey = s.s_nationkey)
        |              ELSE c.c_acctbal END AS c_acctbal
        |  FROM customer c LEFT JOIN src s ON c.c_custkey = s.k),
        |ins AS (
        |  SELECT s.k + 1000000 AS c_custkey, s.s_nationkey AS c_nationkey,
        |         coalesce((SELECT 1000.0 * avg(n_regionkey) FROM nation n
        |                   WHERE n.n_nationkey = s.s_nationkey AND n.n_regionkey >= 2),
        |                  -1.0) + s.s_acctbal AS c_acctbal
        |  FROM src s WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = s.k))
        |SELECT * FROM upd UNION ALL SELECT * FROM ins""".stripMargin,
    "s52_correlated_set" ->
      """SELECT c_custkey, c_nationkey,
        |       CASE WHEN c_nationkey % 2 = 0
        |            THEN c_acctbal + (SELECT 10.0 * avg(n_regionkey)
        |                              FROM nation n
        |                              WHERE n.n_nationkey = c.c_nationkey)
        |            ELSE c_acctbal END AS c_acctbal
        |FROM customer c""".stripMargin,
    "s51_path_sql" ->
      "SELECT r_regionkey, r_name FROM region",
    "s67_lazy_dml" ->
      """SELECT CAST(s_suppkey AS BIGINT) AS id, s_name AS name,
        |  CAST(floor((CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 1000.0
        |              ELSE s_acctbal END) * 100 + 0.5) AS BIGINT) AS bal_c,
        |  true AS zero_folds
        |FROM supplier WHERE s_suppkey % 7 <> 0""".stripMargin,
    "s66_lazy_snapshot_read" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |  CAST(n_regionkey AS INT) AS region, true AS zero_folds
        |FROM nation WHERE n_regionkey >= 2 AND n_nationkey >= 5""".stripMargin,
    "s50_replace_table" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       (SELECT count(*) FROM nation) AS tt_rows,
        |       (SELECT count(*) FROM nation) AS cdf_deletes,
        |       (SELECT count(DISTINCT o_orderstatus) FROM orders) AS cdf_inserts,
        |       CAST(2 AS BIGINT) AS replace_version,
        |       true AS missing_refused,
        |       CAST(0 AS BIGINT) AS change_files_written
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "s65_not_null" ->
      """WITH rows_now AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name FROM nation
        |  UNION ALL SELECT CAST(900 AS BIGINT), 'ok'
        |  UNION ALL SELECT NULL, 'nullrow')
        |SELECT id, name,
        |       true AS branded,
        |       true AS violation_rejected,
        |       true AS reject_committed_nothing
        |FROM rows_now""".stripMargin,
    "s63_vacuum_untracked" ->
      """SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
        |       CAST(0 AS BIGINT) AS lite_deleted,
        |       CAST(3 AS BIGINT) AS planned,
        |       CAST(3 AS BIGINT) AS swept,
        |       true AS young_survives
        |FROM nation""".stripMargin,
    "s64_sync_identity" ->
      """WITH m AS (SELECT CAST(max(n_nationkey) + 1000 AS BIGINT) AS mark
        |           FROM nation)
        |SELECT CAST(n_nationkey AS BIGINT) + 1000 AS id, n_name AS name,
        |       m.mark AS synced_mark
        |FROM nation, m
        |UNION ALL
        |SELECT m.mark + i, 'gen' || CAST(i AS VARCHAR), m.mark
        |FROM m, (VALUES (1), (2), (3)) AS v(i)""".stripMargin,
    "s62_restore_cdf" ->
      """WITH rows_now AS (
        |  SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name FROM nation
        |  UNION ALL
        |  SELECT CAST(r_regionkey AS BIGINT) + 100, r_name FROM region)
        |SELECT id, name,
        |       (SELECT count(*) FROM nation WHERE n_nationkey >= 10) AS cdf_deletes,
        |       (SELECT count(*) FROM nation) AS cdf_inserts,
        |       CAST(3 AS BIGINT) AS restore_version,
        |       CAST(0 AS BIGINT) AS change_files_written
        |FROM rows_now""".stripMargin,
    "s49_utf8_stats" ->
      """WITH n AS (SELECT 'doc-' ||
        |             CASE WHEN n_nationkey % 2 = 0 THEN chr(57344)
        |                  ELSE chr(128512) END || n_name AS name_u,
        |           n_nationkey % 2 AS bucket
        |    FROM nation),
        |b AS (SELECT bucket, min(name_u) AS mn, max(name_u) AS mx
        |      FROM n GROUP BY 1)
        |SELECT
        |  CAST((SELECT count(*) FROM b
        |        WHERE mx >= 'doc-' || chr(57344)) AS BIGINT) AS files_scanned_range,
        |  CAST((SELECT count(*) FROM b
        |        WHERE mx >= 'doc-' || chr(128512)
        |          AND mn < 'doc-' || chr(128513)) AS BIGINT) AS files_scanned_like,
        |  (SELECT count(*) FROM b) AS total_files,
        |  (SELECT count(*) FROM n WHERE name_u >= 'doc-' || chr(57344)) AS rows_matching_range,
        |  (SELECT count(*) FROM n
        |   WHERE name_u LIKE 'doc-' || chr(128512) || '%') AS rows_matching_like,
        |  (SELECT max(name_u) FROM n) AS max_name,
        |  true AS metadata_only""".stripMargin,
    "s47_nested_skipping" ->
      """WITH w AS (SELECT max(o_custkey) // 8 + 1 AS width FROM orders),
        |b AS (SELECT o_custkey // width AS bucket,
        |             min(o_custkey) AS mn, max(o_custkey) AS mx
        |      FROM orders, w GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM b WHERE mn <= 200 AND mx >= 100) AS BIGINT) AS files_scanned,
        |       (SELECT count(*) FROM b) AS total_files,
        |       (SELECT count(*) FROM orders
        |        WHERE o_custkey BETWEEN 100 AND 200) AS rows_matching""".stripMargin,
    "s8_skipping_counts" ->
      """WITH w AS (SELECT max(o_orderkey) // 8 + 1 AS width FROM orders),
        |b AS (SELECT o_orderkey // width AS bucket,
        |             min(o_orderkey) AS mn, max(o_orderkey) AS mx
        |      FROM orders, w GROUP BY 1)
        |SELECT CAST((SELECT count(*) FROM b WHERE mn <= 200 AND mx >= 100) AS BIGINT) AS files_scanned,
        |       (SELECT count(*) FROM b) AS total_files""".stripMargin,
    "d7_embedding_near_dup" ->
      """SELECT vec_id AS idA, vec_id + 100000 AS idB
        |FROM embeddings WHERE vec_id % 50 = 0""".stripMargin,
    // SemDeDup prunes exactly the injected copies (same fixture as d7):
    // survivors are the original corpus
    "d22_semantic_dedup" -> "SELECT vec_id, label FROM embeddings",
    "d24_contamination" ->
      """WITH ev AS (
        |  SELECT doc_id,
        |    array_to_string(
        |      (string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' '))[1:12], ' ')
        |    || ' zq' || CAST(doc_id AS VARCHAR) || 'a zq' || CAST(doc_id AS VARCHAR)
        |    || 'b zq' || CAST(doc_id AS VARCHAR) || 'c' AS text
        |  FROM documents WHERE doc_id % 97 = 0),
        |evt AS (SELECT doc_id,
        |          string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |        FROM ev),
        |evg AS (SELECT doc_id, unnest(CASE WHEN len(t) >= 3
        |          THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |          ELSE list_distinct([array_to_string(t, ' ')]) END) AS g
        |        FROM evt),
        |trt AS (SELECT string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
        |        FROM documents),
        |trg AS (SELECT DISTINCT unnest(CASE WHEN len(t) >= 3
        |          THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
        |          ELSE list_distinct([array_to_string(t, ' ')]) END) AS g
        |        FROM trt),
        |agg AS (
        |  SELECT e.doc_id, count(*) AS eval_grams,
        |         sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS hit_grams
        |  FROM evg e LEFT JOIN trg t ON e.g = t.g GROUP BY 1)
        |SELECT doc_id, CAST(eval_grams AS BIGINT) AS eval_grams,
        |       CAST(hit_grams AS BIGINT) AS hit_grams,
        |       round(CAST(hit_grams AS DOUBLE) / eval_grams, 6) AS contamination
        |FROM agg""".stripMargin,
    "d25_model_score" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    unnest(string_split(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
        |  FROM documents),
        |tw AS (
        |  SELECT doc_id,
        |    CAST((((('0x' || substring(md5(w), 1, 8))::BIGINT % 64) * 37 + 11) % 21 - 10) AS DOUBLE) AS wt
        |  FROM toks WHERE w <> ''),
        |agg AS (SELECT doc_id, count(*) AS n, sum(wt) AS raw FROM tw GROUP BY 1)
        |SELECT doc_id, round(raw / n, 6) AS model_score,
        |       (round(raw / n, 6) > 0) AS keep
        |FROM agg""".stripMargin,
    "d4_ngram_jaccard_pairs" -> ngramJaccardOracle(0.5),
    "d5_cosine_topk" -> cosineTopkOracle,
    // d6 runs IVF with nProbe = numCentroids (degenerate-exact), so the
    // brute-force oracle applies verbatim
    "d6_ivf_topk" -> cosineTopkOracle,
    // persisted-index probe at nProbe = numCentroids: exact, same oracle
    "d21_ivf_index" -> cosineTopkOracle,
    // production-mode IVF (nProbe=8 of 16): the recall bound is asserted
    // Spark-side against the exact top-k; the oracle pins the exact-pair
    // count and the bound itself (deterministic centroids ⇒ deterministic
    // recall — 0.74 measured on the uniform synthetic corpus)
    "d6_ivf_recall" ->
      """SELECT CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT)
        |         AS exact_pairs,
        |       true AS recall_ok""".stripMargin,
    // PQ + rerank recall bound, same shape as d6_ivf_recall (deterministic
    // codebooks ⇒ deterministic recall — 0.92 measured at rerank=100)
    "d23_pq_recall" ->
      """SELECT CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT)
        |         AS exact_pairs,
        |       true AS recall_ok""".stripMargin,
    // persisted-index PQ probe: same bound, same determinism as d23
    "d28_pq_index" ->
      """SELECT CAST(5 * (SELECT count(*) FROM embeddings WHERE vec_id < 10) AS BIGINT)
        |         AS exact_pairs,
        |       true AS recall_ok""".stripMargin
  )

  /** Exact cosine top-5 in DuckDB — oracle for both the brute-force (d5) and
    * the full-probe IVF (d6) Spark implementations.
    */
  private def cosineTopkOracle: String =
    """WITH q AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS corpus_id,
      |         list_dot_product(q.v, c.v) /
      |           (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
      |  FROM c, q),
      |ranked AS (
      |  SELECT query_id, corpus_id,
      |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, corpus_id) AS rnk
      |  FROM scored)
      |SELECT query_id, CAST(rnk AS INT) AS rank, corpus_id FROM ranked WHERE rnk <= 5""".stripMargin

  /** Exact all-pairs n-gram jaccard in DuckDB — oracle for both the
    * LSH-accelerated (d2) and inverted-index (d4) Spark implementations.
    */
  /** Shared CTE prefix for the substring-dedup oracles (k = 12): tokenize,
    * enumerate positional 12-token grams, and flag every occurrence that is
    * not its gram's canonical (smallest (doc_id, pos)) occurrence. Grams
    * compare as STRINGS here; the Spark side groups by 64-bit xxhash64 of
    * the same strings — identical partitions absent a hash collision, which
    * at sf0.01 (~20k windows) is ~1e-11.
    */
  private val substringFlaggedCtes: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
      |  FROM documents),
      |wins AS (
      |  SELECT doc_id,
      |         unnest([{'pos': i, 'gram': array_to_string(t[i:i+11], ' ')} for i in range(1, len(t) - 10)]) AS w
      |  FROM toks WHERE len(t) >= 12),
      |occ AS (
      |  SELECT doc_id, w.pos AS pos,
      |         row_number() OVER (PARTITION BY w.gram ORDER BY doc_id, w.pos) AS rn,
      |         count(*) OVER (PARTITION BY w.gram) AS cnt
      |  FROM wins),
      |flagged AS (SELECT doc_id, pos FROM occ WHERE cnt > 1 AND rn > 1)""".stripMargin

  /** d3's oracle, shared with the d30 ensemble intersection. */
  private val simhashPairsOracle: String =
    """WITH toks AS (
      |  SELECT doc_id,
      |         unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ')) AS tok
      |  FROM documents),
      |th AS (
      |  SELECT doc_id, ('0x' || substring(md5(tok), 1, 8))::BIGINT AS h
      |  FROM toks WHERE len(tok) > 0),
      |votes AS (
      |  SELECT doc_id, i, SUM(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS v
      |  FROM th, range(32) t(i) GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) AS simhash
      |  FROM votes GROUP BY 1)
      |SELECT a.doc_id AS idA, b.doc_id AS idB,
      |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3""".stripMargin

  private lazy val ngram05Oracle: String = ngramJaccardOracle(0.5)

  private def ngramJaccardOracle(threshold: Double, src: String = "documents"): String =
    s"""WITH toks AS (
       |  SELECT doc_id,
       |         string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), ' ') AS t
       |  FROM $src),
       |grams AS (
       |  SELECT doc_id,
       |    CASE WHEN len(t) >= 3
       |      THEN list_distinct([array_to_string(t[i:i+2], ' ') for i in range(1, len(t) - 1)])
       |      ELSE list_distinct([array_to_string(t, ' ')]) END AS g
       |  FROM toks),
       |pairs AS (
       |  SELECT a.doc_id AS idA, b.doc_id AS idB,
       |         len(list_intersect(a.g, b.g)) AS inter, len(a.g) AS na, len(b.g) AS nb
       |  FROM grams a, grams b WHERE a.doc_id < b.doc_id)
       |SELECT idA, idB,
       |       round(CAST(inter AS DOUBLE) / (na + nb - inter), 6) AS jaccard
       |FROM pairs WHERE CAST(inter AS DOUBLE) / (na + nb - inter) >= $threshold""".stripMargin
}
