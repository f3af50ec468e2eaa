package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.operators.TableOps
import graft.tables.{DeletionVectors, DistributedSnapshot, Fs, GraftLog, GraftTable}

/** The Dataset-backed read path (LazyFileIndex): above
  * `spark.graft.snapshot.driverFileLimit` the read plans from a Dataset
  * view of the log — the driver never folds the live file list. These
  * specs force the path with a tiny limit and assert (a) result parity
  * with the driver path in every regime — partitioned, filtered, time
  * travel, deletion vectors, SQL — and (b) the zero-full-fold property
  * via the per-table fold watch.
  */
class LazyFileIndexSpec extends AnyFunSpec with SparkSessionTestWrapper {

  /** ISOLATED session (shared SparkContext, private SQL conf state):
    * withLimit mutates the driver-file limit, and suites run in PARALLEL
    * against the shared session — even a restored-after mutation is
    * visible DURING the window, silently flipping concurrent suites'
    * tables onto the lazy path (parity-correct, but plan-shape or timing
    * assertions could flake without reproducing in isolation). The child
    * session inherits the builder confs (extensions, catalog, timezone)
    * from the SparkConf, with its own runtime conf map.
    */
  override lazy val spark: org.apache.spark.sql.SparkSession =
    SparkSessionTestWrapper.session.newSession()

  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-lazyidx").toString

  /** Run `body` with the driver-file limit forced to `n` on THIS suite's
    * isolated session, restoring after.
    */
  private def withLimit[A](n: Long)(body: => A): A = {
    val key = GraftTable.DriverFileLimitConf
    val before = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  it("plans reads from the Dataset view past the limit — parity on a partitioned table") {
    val dir = Fs.child(freshDir(), "t")
    val df = (0 until 400).map(i => (i.toLong, s"n_$i", i % 4)).toDF("id", "name", "p")
    GraftTable.create(spark, dir, df.repartition(8), partitionColumns = Seq("p"))
    val t = GraftTable.forPath(spark, dir)
    val eager = t.toDF.orderBy("id").collect().toSeq
    withLimit(2) {
      assert(GraftTable.lazyReadEligible(spark, t.log, t.version),
        "precondition: table crosses the forced limit")
      GraftLog.watchFolds(dir)
      try {
        val lz = GraftTable.forPath(spark, dir)
        // full-table parity
        assert(lz.toDF.orderBy("id").collect().toSeq == eager)
        // point query: partition filter + data filter both prune, same rows
        val point = lz.toDF.where("p = 2 AND id = 102").collect()
        assert(point.map(_.getLong(0)).toSeq == Seq(102L))
        // partition-only filter (exactness requirement: Spark drops the
        // pushed partition filter from the post-scan Filter)
        assert(lz.toDF.where("p = 3").count() == 100)
        assert(GraftLog.foldCount(dir) == 0L,
          s"lazy reads performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
    }
  }

  it("time travel and the SQL surface take the lazy path with identical results") {
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 100).map(i => (i.toLong, s"v0_$i")).toDF("id", "name"))
    GraftTable.forPath(spark, dir)
      .append((100 until 160).map(i => (i.toLong, s"v1_$i")).toDF("id", "name"))
    val t = GraftTable.forPath(spark, dir)
    val v0 = t.toDFAt(0L).orderBy("id").collect().toSeq
    val sqlEager = spark.sql(
      s"SELECT id, name FROM graft.`$dir` WHERE id >= 150").orderBy("id").collect().toSeq
    withLimit(1) {
      assert(GraftTable.forPath(spark, dir).toDFAt(0L).orderBy("id").collect().toSeq == v0)
      assert(spark.sql(
        s"SELECT id, name FROM graft.`$dir` WHERE id >= 150").orderBy("id").collect().toSeq
        == sqlEager)
    }
  }

  it("schema evolution across versions: each lazy time travel reads ITS schema") {
    // the head is per-version metadata — a lazy read of v0 must use v0's
    // narrower schema, the latest read the evolved one (old files fill the
    // new column with null, same as the driver path)
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 80).map(i => (i.toLong, s"a$i")).toDF("id", "a"))
    GraftTable.forPath(spark, dir).append(
      (80 until 120).map(i => (i.toLong, s"a$i", i * 2)).toDF("id", "a", "b"))
    withLimit(1) {
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDFAt(0L).schema.fieldNames.toSeq == Seq("id", "a"))
      assert(t.toDFAt(0L).count() == 80)
      val cur = t.toDF
      assert(cur.schema.fieldNames.toSeq == Seq("id", "a", "b"))
      assert(cur.where("b IS NULL").count() == 80, "old files fill the new column with null")
      assert(cur.where("b = 200").select("id").collect().map(_.getLong(0)).toSeq == Seq(100L))
    }
  }

  it("deletion vectors: dv files take the masked leg, clean files the lazy index") {
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 200).map(i => (i.toLong, i % 5)).toDF("id", "b").repartition(4),
      properties = Map(DeletionVectors.Property -> "true"))
    TableOps.delete(GraftTable.forPath(spark, dir), Some("id % 2 = 0"))
    val eager = GraftTable.forPath(spark, dir).toDF.orderBy("id").collect().toSeq
    withLimit(1) {
      val lz = GraftTable.forPath(spark, dir).toDF
      assert(lz.orderBy("id").collect().toSeq == eager)
      assert(lz.where("id % 2 = 0").count() == 0, "masked rows must not resurrect")
      assert(lz.count() == 100)
    }
  }

  it("exceedsFileLimit estimates without folding, across checkpoint formats") {
    def exceeds(log: GraftLog, v: Long, limit: Long): Boolean =
      DistributedSnapshot.exceedsFileLimit(log, log.replayHead(log.segment(v)), limit)
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 100).map(i => (i.toLong, s"x$i")).toDF("id", "name").repartition(5))
    val log = GraftTable.forPath(spark, dir).log
    val v = log.latestVersion()
    GraftLog.watchFolds(dir)
    try {
      assert(exceeds(log, v, 2L))
      assert(!exceeds(log, v, 5L))
      assert(!exceeds(log, v, 100L))
      assert(GraftLog.foldCount(dir) == 0L, "the estimator must never fold")
    } finally GraftLog.unwatchFolds(dir)
    // parquet checkpoint: the exact footer count takes over
    graft.sql.GraftSql.sql(spark,
      s"ALTER TABLE '$dir' SET TBLPROPERTIES('graft.checkpoint.format'='parquet')")
    val log2 = GraftTable.forPath(spark, dir).log
    log2.writeCheckpoint(log2.latestVersion())
    GraftLog.watchFolds(dir)
    try {
      assert(exceeds(log2, log2.latestVersion(), 2L))
      assert(!exceeds(log2, log2.latestVersion(), 5L))
      assert(GraftLog.foldCount(dir) == 0L, "the estimator must never fold")
    } finally GraftLog.unwatchFolds(dir)
  }

  it("metadata-only aggregates answer DISTRIBUTED on the lazy path: no scan, no fold") {
    // count(*) / min / max on a lazy table must come from the log's stats
    // via one executor fold — neither a full data scan (bailing) nor a
    // driver snapshot fold (the cost the lazy path removes)
    val dir = Fs.child(freshDir(), "t")
    val df = (0 until 500).map(i => (i.toLong, s"n_$i", i % 4)).toDF("id", "name", "p")
    GraftTable.create(spark, dir, df.repartition(7), partitionColumns = Seq("p"),
      properties = Map("graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    val eager = GraftTable.forPath(spark, dir).toDF
      .selectExpr("count(*) AS c", "min(id) AS mn", "max(id) AS mx",
        "min(name) AS mnn", "max(p) AS mxp").collect().toSeq
    withLimit(2) {
      GraftLog.watchFolds(dir)
      try {
        val q = GraftTable.forPath(spark, dir).toDF
          .selectExpr("count(*) AS c", "min(id) AS mn", "max(id) AS mx",
            "min(name) AS mnn", "max(p) AS mxp")
        // the optimized plan must be the LocalRelation answer — no
        // relation at all (AQE hides physical scans inside
        // AdaptiveSparkPlanExec, so assert on the LOGICAL plan)
        val rels = q.queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r
        }
        assert(rels.isEmpty, "metadata-only aggregate still planned a scan")
        assert(q.collect().toSeq == eager)
        assert(GraftLog.foldCount(dir) == 0L,
          s"lazy aggregate performed ${GraftLog.foldCount(dir)} full folds")
      } finally GraftLog.unwatchFolds(dir)
    }
  }

  it("lazy metadata-only aggregates bail to a real scan where exactness demands") {
    // DV-masked rows: stats cover masked rows too, so the rule must bail —
    // and the SCAN answer must still be exact
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 100).map(i => (i.toLong, i % 5)).toDF("id", "b").repartition(3),
      properties = Map(DeletionVectors.Property -> "true"))
    TableOps.delete(GraftTable.forPath(spark, dir), Some("id >= 90"))
    withLimit(1) {
      val got = GraftTable.forPath(spark, dir).toDF
        .selectExpr("count(*) AS c", "max(id) AS mx").collect().head
      assert(got.getLong(0) == 90L && got.getLong(1) == 89L)
    }
  }

  it("APPEND to a limit-crossing table commits from the head: zero folds") {
    // the append path consumes only the snapshot's metadata plane — past
    // the limit it must load the head, not fold the file list; the commit
    // and a subsequent read stay exactly right
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 200).map(i => (i.toLong, s"x$i")).toDF("id", "name").repartition(8),
      properties = Map("graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    withLimit(2) {
      GraftLog.watchFolds(dir)
      try {
        GraftTable.forPath(spark, dir)
          .append((200 until 230).map(i => (i.toLong, s"x$i")).toDF("id", "name"))
        assert(GraftLog.foldCount(dir) == 0L,
          s"append performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
      assert(GraftTable.forPath(spark, dir).toDF.count() == 230)
      assert(GraftTable.forPath(spark, dir).toDF.where("id >= 200").count() == 30)
    }
  }

  it("DELETE/UPDATE/replaceWhere on a limit-crossing table plan from the head") {
    // predicate-scoped DML past the limit: candidates come from executor
    // skipping over the Dataset view, the commit reads only metadata-plane
    // fields — zero full folds, results identical to the eager path
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 400).map(i => (i.toLong, s"x$i", i % 4)).toDF("id", "name", "p")
        .repartition(8),
      partitionColumns = Seq("p"),
      properties = Map("graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    withLimit(2) {
      GraftLog.watchFolds(dir)
      try {
        TableOps.delete(GraftTable.forPath(spark, dir), Some("p = 1 AND id < 100"))
        TableOps.update(GraftTable.forPath(spark, dir), Some("id = 202"),
          Map("name" -> "'renamed'"))
        import spark.implicits._
        TableOps.overwriteWhere(GraftTable.forPath(spark, dir),
          Seq((900L, "nine", 3)).toDF("id", "name", "p"), "p = 3")
        assert(GraftLog.foldCount(dir) == 0L,
          s"lazy DML performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDF.where("p = 1 AND id < 100").count() == 0)
      assert(t.toDF.where("p = 1").count() == 75) // 100 - 25 deleted
      assert(t.toDF.where("name = 'renamed'").select("id").collect()
        .map(_.getLong(0)).toSeq == Seq(202L))
      assert(t.toDF.where("p = 3").count() == 1)
      assert(t.toDF.where("id = 900").count() == 1)
      assert(t.toDF.count() == 400 - 25 - 100 + 1)
    }
  }

  it("DV-path DML on a limit-crossing table: masked deletes, zero folds") {
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 300).map(i => (i.toLong, i % 3)).toDF("id", "b").repartition(6),
      properties = Map(
        DeletionVectors.Property -> "true",
        "graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    withLimit(2) {
      GraftLog.watchFolds(dir)
      try {
        TableOps.delete(GraftTable.forPath(spark, dir), Some("id % 5 = 0"))
        TableOps.update(GraftTable.forPath(spark, dir), Some("id = 7"),
          Map("b" -> "99"))
        assert(GraftLog.foldCount(dir) == 0L,
          s"lazy DV DML performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDF.where("id % 5 = 0").count() == 0)
      assert(t.toDF.count() == 240)
      assert(t.toDF.where("id = 7 AND b = 99").count() == 1)
    }
  }

  it("MERGE into a limit-crossing table: head-planned, zero folds, exact result") {
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 300).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(6),
      properties = Map("graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    val source = (295 until 310).map(i => (i.toLong, s"NEW$i")).toDF("id", "v")
    withLimit(2) {
      GraftLog.watchFolds(dir)
      try {
        graft.operators.GraftMerge(GraftTable.forPath(spark, dir), "t")
          .merge(source, "t.id = s.id", Some("s"))
          .whenMatchedUpdateAll()
          .whenNotMatchedInsertAll()
          .execute()
        assert(GraftLog.foldCount(dir) == 0L,
          s"lazy merge performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDF.count() == 310)
      assert(t.toDF.where("v LIKE 'NEW%'").count() == 15)
      assert(t.toDF.where("id = 299 AND v = 'NEW299'").count() == 1)
      assert(t.toDF.where("id = 294 AND v = 'v294'").count() == 1)
    }
  }

  it("column-MAPPED tables read through the lazy path: renamed + physical names hold") {
    // rename pins physical names; the lazy scan must translate them (the
    // mapped FileFormat) and partition pruning must key on the PHYSICAL
    // partition-value names, exactly like the driver index
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 200).map(i => (i.toLong, s"n_$i", i % 4)).toDF("id", "name", "p")
        .repartition(5),
      partitionColumns = Seq("p"))
    GraftTable.forPath(spark, dir).renameColumn("name", "title")
    GraftTable.forPath(spark, dir).renameColumn("p", "bucket")
    val eager = GraftTable.forPath(spark, dir).toDF
      .where("bucket = 2 AND id < 50").orderBy("id").collect().toSeq
    withLimit(1) {
      val lz = GraftTable.forPath(spark, dir).toDF
      assert(lz.schema.fieldNames.toSeq == Seq("id", "title", "bucket"))
      assert(lz.where("bucket = 2 AND id < 50").orderBy("id").collect().toSeq == eager)
      assert(lz.where("title = 'n_7'").select("id").collect()
        .map(_.getLong(0)).toSeq == Seq(7L))
      // DML through the mapped lazy path too
      TableOps.delete(GraftTable.forPath(spark, dir), Some("bucket = 3"))
      assert(GraftTable.forPath(spark, dir).toDF.count() == 150)
    }
  }

  it("NULL partition values round-trip through the lazy index") {
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      Seq((1L, Some(1)), (2L, None), (3L, Some(1)), (4L, None))
        .toDF("id", "p"),
      partitionColumns = Seq("p"))
    val eager = GraftTable.forPath(spark, dir).toDF.orderBy("id").collect().toSeq
    withLimit(1) {
      val lz = GraftTable.forPath(spark, dir).toDF
      assert(lz.orderBy("id").collect().toSeq == eager)
      assert(lz.where("p IS NULL").select("id").collect()
        .map(_.getLong(0)).sorted.toSeq == Seq(2L, 4L))
      assert(lz.where("p = 1").count() == 2)
    }
  }

  it("COPY INTO a limit-crossing table loads from the head: zero folds") {
    val root = freshDir()
    val dir = Fs.child(root, "t")
    GraftTable.create(spark, dir,
      (0 until 120).map(i => (i.toLong, s"v$i")).toDF("id", "v").repartition(4),
      properties = Map("graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    val land = Fs.child(root, "landing"); Fs.mkdirs(land)
    (120 until 140).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.parquet(Fs.child(land, "batch1"))
    withLimit(2) {
      GraftLog.watchFolds(dir)
      try {
        val (_, rows, copied, _) =
          TableOps.copyInto(GraftTable.forPath(spark, dir), land, "parquet")
        assert(rows == 20L && copied == 1L, s"got $rows/$copied")
        assert(GraftLog.foldCount(dir) == 0L,
          s"COPY INTO performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
      assert(GraftTable.forPath(spark, dir).toDF.count() == 140)
    }
  }

  it("a lazy point query after a parquet checkpoint performs zero full folds") {
    val dir = Fs.child(freshDir(), "t")
    GraftTable.create(spark, dir,
      (0 until 300).map(i => (i.toLong, s"x$i")).toDF("id", "name").repartition(10),
      properties = Map("graft.checkpoint.format" -> "parquet"))
    val log = GraftTable.forPath(spark, dir).log
    log.writeCheckpoint(log.latestVersion())
    withLimit(3) {
      GraftLog.watchFolds(dir)
      try {
        val got = GraftTable.forPath(spark, dir).toDF
          .where("id = 123").select("name").collect()
        assert(got.map(_.getString(0)).toSeq == Seq("x123"))
        assert(GraftLog.foldCount(dir) == 0L,
          s"point query performed ${GraftLog.foldCount(dir)} full driver folds")
      } finally GraftLog.unwatchFolds(dir)
    }
  }
}
