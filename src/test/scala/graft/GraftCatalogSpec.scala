package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funspec.AnyFunSpec

import graft.tables.GraftTable

/** The V2 `TableCatalog` plugin ([[graft.catalog.GraftCatalog]]): unquoted
  * `graft_cat.ns.table` identifiers in plain `spark.sql` — CTAS, SELECT
  * (through the native V1 scan path via the session extension's resolution
  * rule), INSERT, MERGE, DDL and namespace ops — with the commit log as
  * the only source of truth.
  */
class GraftCatalogSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  // the JVM-shared warehouse: suites run in parallel against one session,
  // so per-suite warehouse confs would clobber each other mid-test
  private lazy val warehouse: String = SparkSessionTestWrapper.catalogWarehouse

  it("CTAS + SELECT + INSERT round-trip through the catalog") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ns")
    spark.sql(
      "CREATE TABLE graft_cat.ns.t AS SELECT id, id % 3 AS k FROM range(30)")
    // the table is a normal graft table at <warehouse>/ns/t
    assert(GraftTable.exists(Paths.get(warehouse, "ns", "t").toString))
    assert(spark.sql("SELECT count(*) AS c FROM graft_cat.ns.t").head.getLong(0) == 30)

    spark.sql("INSERT INTO graft_cat.ns.t SELECT id, 9 AS k FROM range(100, 105)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.t WHERE k = 9").head.getLong(0) == 5)
    // filters land on the native scan (the resolution rule + scan rewrite)
    val plan = spark.sql("SELECT id FROM graft_cat.ns.t WHERE id = 101")
      .queryExecution.executedPlan.toString
    assert(plan.contains("GraftParquet") || plan.contains("Scan parquet"),
      s"catalog read must plan the native parquet scan, got:\n$plan")

    spark.sql("INSERT OVERWRITE graft_cat.ns.t SELECT id, 0 AS k FROM range(3)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ns.t").head.getLong(0) == 3)
    // CTAS is two commits (v0 metadata-only create, v1 the SELECT's rows);
    // the overwrite is a third — time travel sees each state
    val t = GraftTable.forName(spark, "graft_cat.ns.t")
    assert(t.toDFAt(0L).count() == 0)
    assert(t.toDFAt(1L).count() == 30)

    // DataFrame API round-trip: spark.table reads, writeTo appends
    assert(spark.table("graft_cat.ns.t").count() == 3)
    spark.range(200, 202).toDF("id")
      .withColumn("k", org.apache.spark.sql.functions.lit(7L))
      .writeTo("graft_cat.ns.t").append()
    assert(spark.table("graft_cat.ns.t").count() == 5)
  }

  it("MERGE INTO a catalog identifier through the graft SQL surface") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.m")
    spark.sql("CREATE TABLE graft_cat.m.target AS " +
      "SELECT id, CAST(concat('v', id) AS STRING) AS v FROM range(5)")
    Seq((3L, "updated"), (9L, "inserted")).toDF("id", "v")
      .createOrReplaceTempView("merge_src")
    spark.sql(
      """MERGE INTO graft.`graft_cat.m.target` AS t USING merge_src AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val rows = spark.sql("SELECT id, v FROM graft_cat.m.target")
      .as[(Long, String)].collect().toMap
    assert(rows == Map(0L -> "v0", 1L -> "v1", 2L -> "v2", 3L -> "updated",
      4L -> "v4", 9L -> "inserted"))
    // maintenance statements accept the identifier directly
    assert(spark.sql("DESCRIBE HISTORY 'graft_cat.m.target'").count() >= 2)
  }

  it("partitioned DDL, properties, and deletion-vector masking via catalog reads") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.p")
    spark.sql(
      """CREATE TABLE graft_cat.p.t (id BIGINT, part STRING)
        |USING graft PARTITIONED BY (part)
        |TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')""".stripMargin)
    val t = GraftTable.forName(spark, "graft_cat.p.t")
    assert(t.snapshot.metadata.partitionColumns == Seq("part"))
    assert(t.snapshot.metadata.properties.get("graft.enableDeletionVectors").contains("true"))
    spark.sql("INSERT INTO graft_cat.p.t SELECT id, CAST(id % 2 AS STRING) FROM range(20)")
    // row-level delete takes the DV shape; the catalog read must mask it
    graft.operators.TableOps.delete(
      GraftTable.forName(spark, "graft_cat.p.t"), Some("id = 4"))
    val ids = spark.sql("SELECT id FROM graft_cat.p.t").as[Long].collect().sorted
    assert(ids.length == 19 && !ids.contains(4L))
    // ALTER TABLE SET TBLPROPERTIES routes through catalog.alterTable to the log
    spark.sql("ALTER TABLE graft_cat.p.t SET TBLPROPERTIES ('custom.tag' = 'x')")
    assert(GraftTable.forName(spark, "graft_cat.p.t")
      .snapshot.metadata.properties.get("custom.tag").contains("x"))
  }

  it("listTables, rename, drop and namespace lifecycle") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.life")
    spark.sql("CREATE TABLE graft_cat.life.a AS SELECT id FROM range(3)")
    spark.sql("CREATE TABLE graft_cat.life.b AS SELECT id FROM range(4)")
    val listed = spark.sql("SHOW TABLES IN graft_cat.life")
      .select("tableName").as[String].collect().toSet
    assert(listed == Set("a", "b"))
    // RENAME TO takes the new name relative to the catalog (Spark's rule:
    // a rename cannot cross catalogs)
    spark.sql("ALTER TABLE graft_cat.life.a RENAME TO life.a2")
    assert(spark.sql("SELECT count(*) FROM graft_cat.life.a2").head.getLong(0) == 3)
    spark.sql("DROP TABLE graft_cat.life.b")
    assert(!GraftTable.exists(Paths.get(warehouse, "life", "b").toString))
    intercept[Exception] { spark.sql("SELECT * FROM graft_cat.life.b").collect() }
    // non-empty namespace refuses a plain drop; cascade removes it
    intercept[Exception] { spark.sql("DROP NAMESPACE graft_cat.life") }
    spark.sql("DROP NAMESPACE graft_cat.life CASCADE")
    assert(!Files.exists(Paths.get(warehouse, "life")))
  }

  it("DELETE FROM through the catalog routes to the commit log") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.del")
    spark.sql("CREATE TABLE graft_cat.del.t AS SELECT id, id % 3 AS k FROM range(30)")
    spark.sql("DELETE FROM graft_cat.del.t WHERE k = 1")
    assert(spark.sql("SELECT count(*) FROM graft_cat.del.t").head.getLong(0) == 20)
    // the delete is a commit: time travel still sees the pre-delete state
    val t = GraftTable.forName(spark, "graft_cat.del.t")
    assert(t.toDFAt(1L).count() == 30)
    spark.sql("DELETE FROM graft_cat.del.t") // unconditional
    assert(spark.sql("SELECT count(*) FROM graft_cat.del.t").head.getLong(0) == 0)
    assert(t.toDFAt(2L).count() == 20)
  }

  it("time travel: VERSION AS OF and TIMESTAMP AS OF through the catalog") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.tt")
    spark.sql("CREATE TABLE graft_cat.tt.t AS SELECT id FROM range(5)")
    val afterV1 = System.currentTimeMillis()
    Thread.sleep(5)
    spark.sql("INSERT INTO graft_cat.tt.t SELECT id FROM range(100, 103)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.tt.t").head.getLong(0) == 8)
    assert(spark.sql("SELECT count(*) FROM graft_cat.tt.t VERSION AS OF 1")
      .head.getLong(0) == 5)
    assert(spark.sql("SELECT count(*) FROM graft_cat.tt.t VERSION AS OF 0")
      .head.getLong(0) == 0) // CTAS v0 is the metadata-only create
    val ts = new java.sql.Timestamp(afterV1).toString
    assert(spark.sql(s"SELECT count(*) FROM graft_cat.tt.t TIMESTAMP AS OF '$ts'")
      .head.getLong(0) == 5)
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_cat.tt.t VERSION AS OF 99").collect()
    }
  }

  it("readStream.table on a catalog identifier (V1 fallback, rows-only schema)") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.st")
    spark.sql("CREATE TABLE graft_cat.st.t AS SELECT id FROM range(5)")
    val sdf = spark.readStream.table("graft_cat.st.t")
    // rows-only: the change columns stay internal (Delta's readStream.table shape)
    assert(sdf.isStreaming && sdf.schema.fieldNames.toSeq == Seq("id"))
    // file sink: supports checkpoint recovery, so the restart phase proves
    // version offsets survive (memory sink cannot recover a checkpoint)
    val ckpt = java.nio.file.Files.createTempDirectory("cat-st-ck").toString
    val out = java.nio.file.Files.createTempDirectory("cat-st-out").toString
    def drain(): Unit = {
      val q = spark.readStream.table("graft_cat.st.t")
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination(120000); ()
    }
    drain()
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
      (0L until 5L).toSeq)
    // a second AvailableNow run from the same checkpoint appends ONLY the
    // new rows (version offsets survive the restart)
    spark.sql("INSERT INTO graft_cat.st.t SELECT id FROM range(100, 103)")
    drain()
    assert(spark.read.parquet(out).as[Long].collect().sorted.toSeq ==
      ((0L until 5L) ++ Seq(100L, 101L, 102L)).toSeq)
  }

  it("rows-only stream refuses change commits on a CDF table (no resurrection)") {
    val _ = warehouse
    import org.apache.spark.sql.streaming.Trigger
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cdc")
    spark.sql(
      """CREATE TABLE graft_cat.cdc.t (id BIGINT) USING graft
        |TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')""".stripMargin)
    spark.sql("INSERT INTO graft_cat.cdc.t SELECT id FROM range(10)")
    val ckpt = java.nio.file.Files.createTempDirectory("cdc-ck").toString
    val out = java.nio.file.Files.createTempDirectory("cdc-out").toString
    def drain(opts: Map[String, String]): Either[Throwable, Long] =
      try {
        val r = opts.foldLeft(spark.readStream)((b, kv) => b.option(kv._1, kv._2))
          .table("graft_cat.cdc.t")
        val q = r.writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination(120000)
        Right(spark.read.parquet(out).count())
      } catch { case e: Throwable => Left(e) }
    assert(drain(Map.empty) == Right(10L))
    // a DELETE writes CDC delete rows: stripping the tag would append the
    // deleted rows back to the sink — the stream must refuse loudly
    spark.sql("DELETE FROM graft_cat.cdc.t WHERE id < 3")
    drain(Map.empty) match {
      case Left(e) =>
        assert(Option(e.getMessage).getOrElse(e.getCause.getMessage)
          .contains("rows-only") || e.getCause != null &&
          e.getCause.getMessage.contains("rows-only"))
      case Right(n) => fail(s"change commit must not stream as plain rows (got $n)")
    }
    // skipChangeCommits: the delete commit is skipped wholesale, later
    // appends still flow
    spark.sql("INSERT INTO graft_cat.cdc.t SELECT id FROM range(100, 102)")
    assert(drain(Map("skipChangeCommits" -> "true")) == Right(12L))
  }

  it("native UPDATE, multi-clause MERGE and non-pushable DELETE in plain spark.sql") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.rl")
    spark.sql("CREATE TABLE graft_cat.rl.t AS SELECT id, " +
      "CAST(id % 3 AS STRING) AS grp, CAST(id AS DOUBLE) AS val FROM range(30)")

    // native UPDATE routes through TableOps.update — same metrics row as
    // graft's own UPDATE SQL
    val u = spark.sql("UPDATE graft_cat.rl.t SET val = val + 100 WHERE grp = '1'")
    assert(u.columns.toSeq == Seq("version", "numUpdatedRows"))
    assert(u.head.getLong(1) == 10)
    assert(spark.table("graft_cat.rl.t").where("val >= 100").count() == 10)

    // native MERGE with SAME-NAMED columns on both sides: the rewrite must
    // requalify each reference by origin, not by name
    val m = spark.sql(
      """MERGE INTO graft_cat.rl.t AS t
        |USING (SELECT id, CAST(id*2 AS DOUBLE) AS val FROM range(25, 40)) AS s
        |ON t.id = s.id
        |WHEN MATCHED AND s.id >= 28 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET val = s.val
        |WHEN NOT MATCHED THEN INSERT (id, grp, val) VALUES (s.id, 'new', s.val)
        |""".stripMargin)
    assert(m.columns.toSeq == Seq("version", "numTargetRowsUpdated",
      "numTargetRowsDeleted", "numTargetRowsInserted"))
    assert(m.head.getLong(1) == 3 && m.head.getLong(2) == 2 && m.head.getLong(3) == 10)
    val tdf = spark.table("graft_cat.rl.t")
    assert(tdf.count() == 38)
    assert(tdf.where("id IN (25,26,27) AND val = id*2").count() == 3)
    assert(tdf.where("id IN (28,29)").count() == 0)
    assert(tdf.where("grp = 'new'").count() == 10)
    // the commit carries the full path-API MERGE metrics
    val hist = graft.sql.GraftSql.sql(spark,
      s"DESCRIBE HISTORY '${Paths.get(warehouse, "rl", "t")}'")
      .select("operation", "operationMetrics").collect()
    val mm = hist.find(_.getString(0) == "MERGE").get
      .getMap[String, String](1)
    assert(mm("numTargetRowsUpdated") == "3" && mm("numTargetRowsDeleted") == "2")

    // NOT MATCHED BY SOURCE through native SQL
    spark.sql(
      """MERGE INTO graft_cat.rl.t AS t USING (SELECT id FROM range(0, 100)) AS s
        |ON t.id = s.id AND s.id < 35
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.table("graft_cat.rl.t").where("id >= 35").count() == 0)

    // a condition no V1 filter can express converts to the graft delete;
    // a pushable one keeps the stock SupportsDelete plan (empty output)
    val d = spark.sql("DELETE FROM graft_cat.rl.t WHERE val * 2 > 100")
    assert(d.columns.toSeq == Seq("version", "numDeletedRows"))
    assert(spark.table("graft_cat.rl.t").where("val * 2 > 100").count() == 0)
    val d2 = spark.sql("DELETE FROM graft_cat.rl.t WHERE grp = '0'")
    assert(d2.columns.isEmpty)
    assert(spark.table("graft_cat.rl.t").where("grp = '0'").count() == 0)
  }

  it("native MERGE WITH SCHEMA EVOLUTION carries source values into evolved columns") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.evo")
    spark.sql("CREATE TABLE graft_cat.evo.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS val FROM range(10)")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graft_cat.evo.t AS t
        |USING (SELECT id, CAST(id*3 AS DOUBLE) AS val, 'n' AS tag FROM range(4, 14)) AS s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val df = spark.table("graft_cat.evo.t")
    assert(df.columns.toSeq == Seq("id", "val", "tag"))
    assert(df.count() == 14)
    // star actions carry the SOURCE's evolved-column values (Delta star
    // semantics), not the NULL Spark's pre-evolution expansion would give
    assert(df.where("tag = 'n'").count() == 10)
    assert(df.where("tag IS NULL").count() == 4) // untouched rows read NULL
    assert(df.where("id BETWEEN 4 AND 13 AND val = id * 3").count() == 10)
  }

  it("ALTER TABLE ADD COLUMNS on a catalog identifier commits to the log") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ddl")
    spark.sql("CREATE TABLE graft_cat.ddl.t AS SELECT id FROM range(5)")
    spark.sql("ALTER TABLE graft_cat.ddl.t ADD COLUMNS (note STRING COMMENT 'x', n INT)")
    val df = spark.table("graft_cat.ddl.t")
    assert(df.columns.toSeq == Seq("id", "note", "n"))
    assert(df.where("note IS NULL AND n IS NULL").count() == 5)
    // metadata-only commit: no file was rewritten
    val t = GraftTable.forName(spark, "graft_cat.ddl.t")
    assert(t.history().exists(_._2.operation == "ADD COLUMNS"))
    // NOT NULL additions are refused (existing rows would violate)
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.ddl.t ADD COLUMNS (must INT NOT NULL)")
    }
    // RENAME COLUMN: metadata-only via column mapping (physical name
    // pinned), old data readable under the new logical name
    spark.sql("ALTER TABLE graft_cat.ddl.t RENAME COLUMN note TO remark")
    assert(spark.table("graft_cat.ddl.t").columns.toSeq == Seq("id", "remark", "n"))
    spark.sql("INSERT INTO graft_cat.ddl.t SELECT 100, 'r', 1")
    assert(spark.table("graft_cat.ddl.t").where("remark = 'r'").count() == 1)
    // DROP COLUMN retires the physical name; remaining columns intact
    spark.sql("ALTER TABLE graft_cat.ddl.t DROP COLUMN n")
    assert(spark.table("graft_cat.ddl.t").columns.toSeq == Seq("id", "remark"))
    assert(spark.table("graft_cat.ddl.t").count() == 6)
    intercept[Exception] { spark.sql("ALTER TABLE graft_cat.ddl.t DROP COLUMN ghost") }
  }

  it("native UPDATE/DELETE evaluate non-correlated subquery conditions plan-level") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.subq")
    spark.sql("DROP TABLE IF EXISTS graft_cat.subq.t")
    spark.sql("CREATE TABLE graft_cat.subq.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS val FROM range(10)")
    spark.sql("DROP TABLE IF EXISTS graft_cat.subq.quarantine")
    spark.sql("CREATE TABLE graft_cat.subq.quarantine AS SELECT id FROM range(3)")
    // IN (SELECT ...) — the shape no text round-trip can express
    spark.sql("UPDATE graft_cat.subq.t SET val = -1 " +
      "WHERE id IN (SELECT id FROM graft_cat.subq.quarantine)")
    assert(spark.table("graft_cat.subq.t").where("val = -1").count() == 3)
    // scalar subquery mixed with a plain conjunct (the plain conjunct still
    // feeds stats-based file skipping)
    spark.sql("DELETE FROM graft_cat.subq.t " +
      "WHERE val >= (SELECT max(id) FROM graft_cat.subq.quarantine) AND id % 2 = 0")
    // deleted: even ids whose CURRENT val >= 2 → 4,6,8 (0 and 2 carry -1
    // from the update above)
    assert(spark.table("graft_cat.subq.t").select("id").collect().map(_.getLong(0)).toSet ==
      Set(0L, 1L, 2L, 3L, 5L, 7L, 9L))
    // the commit carries the engine's own DELETE metrics
    val t = graft.tables.GraftTable.forName(spark, "graft_cat.subq.t")
    val m = t.history().head._2.operationMetrics
    assert(m("numDeletedRows") == "3")
  }

  it("scalar subqueries in SET assignments and MERGE conditions evaluate once per statement") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ssq")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ssq.t")
    spark.sql("CREATE TABLE graft_cat.ssq.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS val, CAST(NULL AS STRING) AS tag FROM range(10)")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ssq.ref")
    spark.sql("CREATE TABLE graft_cat.ssq.ref AS SELECT id, id * 10 AS w FROM range(4)")
    // scalar subquery in a SET value — a per-statement constant (max(w)=30)
    spark.sql("UPDATE graft_cat.ssq.t SET val = (SELECT max(w) FROM graft_cat.ssq.ref) " +
      "WHERE id < 2")
    assert(spark.table("graft_cat.ssq.t").where("val = 30.0").count() == 2)
    // mixed: subquery nested in arithmetic, alongside a plain assignment —
    // and a subquery-carrying CONDITION at the same time (both seams at once)
    spark.sql("UPDATE graft_cat.ssq.t " +
      "SET val = (SELECT min(w) FROM graft_cat.ssq.ref WHERE w > 0) + 0.5, tag = 'bumped' " +
      "WHERE id IN (SELECT id FROM graft_cat.ssq.ref WHERE w >= 20)")
    assert(spark.table("graft_cat.ssq.t").where("val = 10.5 AND tag = 'bumped'")
      .select("id").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
    // empty scalar-subquery result = NULL (standard SQL)
    spark.sql("UPDATE graft_cat.ssq.t SET tag = (SELECT CAST(w AS STRING) " +
      "FROM graft_cat.ssq.ref WHERE w > 1000) WHERE id = 9")
    assert(spark.table("graft_cat.ssq.t").where("id = 9 AND tag IS NULL").count() == 1)
    // MERGE: scalar subqueries in the ON condition, a clause condition and
    // an assignment value
    spark.sql("MERGE INTO graft_cat.ssq.t AS t USING graft_cat.ssq.ref AS s " +
      "ON t.id = s.id AND t.id < (SELECT count(*) FROM graft_cat.ssq.ref) " +
      "WHEN MATCHED AND s.w >= (SELECT avg(w) FROM graft_cat.ssq.ref) " +
      "  THEN UPDATE SET val = s.w + (SELECT min(w) FROM graft_cat.ssq.ref) " +
      "WHEN NOT MATCHED THEN INSERT (id, val, tag) VALUES (s.id + 100, s.w, 'ins')")
    // avg(w)=15 → matched rows 2,3 update to w+0 = 20,30; no unmatched source rows
    val after = spark.table("graft_cat.ssq.t")
    assert(after.where("id = 2 AND val = 20.0").count() == 1)
    assert(after.where("id = 3 AND val = 30.0").count() == 1)
    assert(after.where("id > 100").count() == 0)
    // a scalar subquery over more than one row is the standard error
    val multi = intercept[Exception] {
      spark.sql("UPDATE graft_cat.ssq.t SET val = (SELECT w FROM graft_cat.ssq.ref) " +
        "WHERE id = 0")
    }
    assert(multi.getMessage.contains("more than one row") ||
      multi.getMessage.contains("MULTI"))
    // CORRELATED scalar subqueries in assignments compute PER-ROW values
    // (round 15, beyond Delta — see CorrelatedAssignSpec/s52); rows whose
    // subquery matches nothing get the SQL-standard NULL
    spark.sql("UPDATE graft_cat.ssq.t SET val = " +
      "(SELECT max(s.w) FROM graft_cat.ssq.ref s WHERE s.id = graft_cat.ssq.t.id)")
    assert(spark.table("graft_cat.ssq.t").where("id < 4 AND val = id * 10.0").count() == 4)
    assert(spark.table("graft_cat.ssq.t").where("id >= 4 AND val IS NULL").count() == 6)
    // set-valued (IN) subqueries in MERGE clause conditions now EVALUATE
    // (round 16 second pass — see s58/CorrelatedAssignSpec): every matched
    // row's id is in ref, so the clause deletes all matched rows
    val preDel = spark.table("graft_cat.ssq.t").where("id < 4").count()
    assert(preDel == 4)
    spark.sql("MERGE INTO graft_cat.ssq.t AS t USING graft_cat.ssq.ref AS s " +
      "ON t.id = s.id WHEN MATCHED AND s.id IN (SELECT id FROM graft_cat.ssq.ref) " +
      "THEN DELETE")
    assert(spark.table("graft_cat.ssq.t").where("id < 4").count() == 0)
    // the MERGE ON condition keeps the stricter rule: correlated scalars
    // cannot decorrelate inside the join itself
    val onCorr = intercept[UnsupportedOperationException] {
      spark.sql("MERGE INTO graft_cat.ssq.t AS t USING graft_cat.ssq.ref AS s " +
        "ON t.id = s.id AND (SELECT max(w) FROM graft_cat.ssq.ref r WHERE r.id = s.id) > 0 " +
        "WHEN MATCHED THEN DELETE")
    }
    assert(onCorr.getMessage.contains("NON-correlated"), onCorr.getMessage)
  }

  it("a many-row scalar subquery errors WITHOUT materializing on the driver") {
    // the splice pushes limit(2) into the subquery plan before collecting —
    // two rows already prove the error. An eval-counting UDF over a
    // single-partition source observes how many rows actually ran: bounded
    // (limit pushed) vs 50k (unbounded collect-then-count).
    val evals = SparkSessionTestWrapper.scalarSubqueryEvals
    evals.set(0L)
    spark.udf.register("graft_count_eval",
      (x: Long) => { SparkSessionTestWrapper.scalarSubqueryEvals.incrementAndGet(); x })
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ssqb")
    spark.sql("CREATE TABLE graft_cat.ssqb.t AS SELECT 1L AS id, 0.0D AS val")
    spark.range(0, 50000).coalesce(1)
      .createOrReplaceTempView("graft_ssq_big")
    val e = intercept[Exception] {
      spark.sql("UPDATE graft_cat.ssqb.t SET val = " +
        "(SELECT graft_count_eval(id) FROM graft_ssq_big)")
    }
    assert(e.getMessage.contains("more than one row") ||
      e.getMessage.contains("MULTI"), e.getMessage)
    // CollectLimit may run a couple of partition-local probes; anything
    // within an order of magnitude of 2 proves the bound — 50000 would
    // mean the collect was unbounded
    assert(evals.get() <= 64L, s"scalar subquery evaluated ${evals.get()} rows")
    spark.sql("DROP TABLE graft_cat.ssqb.t")
  }

  it("CREATE TABLE ... LOCATION registers an EXTERNAL table, not a warehouse shadow") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ext")
    // existing data at an arbitrary path
    val dir = tmpTableDir("cat-external")
    GraftTable.create(spark, dir, Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "name"))
    spark.sql(s"CREATE TABLE graft_cat.ext.t USING graft LOCATION '$dir'")
    // reads/DML hit the EXTERNAL data (the old bug: an empty shadow table
    // under the warehouse silently swallowed every statement)
    assert(spark.sql("SELECT count(*) FROM graft_cat.ext.t").head.getLong(0) == 3)
    spark.sql("DELETE FROM graft_cat.ext.t WHERE id = 2")
    assert(GraftTable.forPath(spark, dir).toDF.count() == 2)
    spark.sql("INSERT INTO graft_cat.ext.t VALUES (9, 'z')")
    assert(GraftTable.forPath(spark, dir).toDF.count() == 3)
    // listed like any table; a declared MISMATCHING schema is refused
    assert(spark.sql("SHOW TABLES IN graft_cat.ext").count() == 1)
    val bad = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_cat.ext.t2 (wrong DOUBLE) USING graft LOCATION '$dir'")
    }
    assert(bad.getMessage.contains("does not match"))
    // rename moves only the pointer; the data stays at LOCATION
    spark.sql("ALTER TABLE graft_cat.ext.t RENAME TO ext.t3")
    assert(spark.sql("SELECT count(*) FROM graft_cat.ext.t3").head.getLong(0) == 3)
    // DROP unregisters without touching the external data (Spark's
    // external-table rule)
    spark.sql("DROP TABLE graft_cat.ext.t3")
    assert(spark.sql("SHOW TABLES IN graft_cat.ext").count() == 0)
    assert(GraftTable.forPath(spark, dir).toDF.count() == 3)
    // CREATE with columns at a FRESH location creates the table there
    val fresh = tmpTableDir("cat-external-fresh")
    spark.sql(s"CREATE TABLE graft_cat.ext.n (id INT, v STRING) USING graft LOCATION '$fresh'")
    spark.sql("INSERT INTO graft_cat.ext.n VALUES (1, 'x')")
    assert(GraftTable.exists(fresh) && GraftTable.forPath(spark, fresh).toDF.count() == 1)

    // contradictory DDL on register-existing refuses loudly (partitioning,
    // properties — accepting them would silently lie about the table)
    val tp = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_cat.ext.p USING graft LOCATION '$dir' " +
        "TBLPROPERTIES ('x' = 'y')")
    }
    assert(tp.getMessage.contains("TBLPROPERTIES"))
    val pb = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_cat.ext.p2 (id INT, name STRING) USING graft " +
        s"PARTITIONED BY (id) LOCATION '$dir'")
    }
    assert(pb.getMessage.contains("PARTITIONED BY"))

    // a DANGLING pointer (external data deleted out-of-band) must stay
    // droppable — not wedge the identifier forever
    val gone = tmpTableDir("cat-external-gone")
    GraftTable.create(spark, gone, Seq((1, "a")).toDF("id", "name"))
    spark.sql(s"CREATE TABLE graft_cat.ext.g USING graft LOCATION '$gone'")
    graft.tables.Fs.deleteRecursively(gone)
    assert(spark.sql("SHOW TABLES IN graft_cat.ext").collect()
      .exists(_.getString(1) == "g")) // still listed (the pointer exists)
    spark.sql("DROP TABLE graft_cat.ext.g") // unregisters cleanly
    intercept[Exception] { spark.sql("SELECT * FROM graft_cat.ext.g").collect() }

    // the pointer-file name is reserved
    val res = intercept[Exception] {
      spark.sql("CREATE TABLE graft_cat.ext._graft_external (id INT) USING graft")
    }
    assert(res.getMessage.contains("reserved"))
  }

  it("nested struct-field DDL (RENAME/ADD/DROP) through catalog identifiers") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.nst")
    spark.sql("CREATE TABLE graft_cat.nst.t AS " +
      "SELECT id, named_struct('a', id * 2, 'q', concat('x', id)) AS s FROM range(5)")
    // RENAME COLUMN s.a — metadata-only; old files read under the new name
    spark.sql("ALTER TABLE graft_cat.nst.t RENAME COLUMN s.a TO doubled")
    assert(spark.sql("SELECT sum(s.doubled) FROM graft_cat.nst.t").head.getLong(0) == 20L)
    spark.sql("INSERT INTO graft_cat.nst.t VALUES (5, named_struct('doubled', 10L, 'q', 'x5'))")
    assert(spark.sql("SELECT count(*) FROM graft_cat.nst.t WHERE s.doubled IS NULL")
      .head.getLong(0) == 0)
    // ADD a nested field: NULL on old rows, writable after
    spark.sql("ALTER TABLE graft_cat.nst.t ADD COLUMNS (s.extra INT)")
    assert(spark.sql("SELECT count(*) FROM graft_cat.nst.t WHERE s.extra IS NOT NULL")
      .head.getLong(0) == 0)
    spark.sql("INSERT INTO graft_cat.nst.t VALUES " +
      "(6, named_struct('doubled', 12L, 'q', 'x6', 'extra', 1))")
    assert(spark.sql("SELECT count(*) FROM graft_cat.nst.t WHERE s.extra = 1")
      .head.getLong(0) == 1)
    // DROP a nested field
    spark.sql("ALTER TABLE graft_cat.nst.t DROP COLUMN s.q")
    val sType = spark.table("graft_cat.nst.t").schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(sType.fieldNames.toSeq == Seq("doubled", "extra"))
    assert(spark.sql("SELECT sum(s.doubled) FROM graft_cat.nst.t").head.getLong(0) == 42L)
  }

  it("a losing concurrent CREATE ... LOCATION leaves no orphan at the user's directory") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ext2")
    val n = java.nio.file.Paths.get(warehouse, "ext2", "racer").toString
    graft.tables.Fs.mkdirs(n)
    // a rival claimed the identifier first — exactly what the loser of a
    // concurrent CREATE observes at its conditional put
    val rivalLoc = tmpTableDir("cat-external-rival")
    GraftTable.create(spark, rivalLoc, Seq((1, "r")).toDF("id", "v"))
    graft.tables.LogStore.forPath(n).putIfAbsent(
      graft.tables.Fs.child(n, graft.catalog.GraftCatalog.ExternalPointerFile),
      (rivalLoc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val myLoc = tmpTableDir("cat-external-loser")
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE graft_cat.ext2.racer (id INT, v STRING) " +
        s"USING graft LOCATION '$myLoc'")
    }
    assert(e.getMessage.toLowerCase.contains("already exists"))
    // pointer-first ordering: the loser created NOTHING at its LOCATION
    // (the old ordering left an orphan graft table there)
    assert(!GraftTable.exists(myLoc),
      "losing CREATE must not leave an orphan table at the user's LOCATION")
    // and the winner's registration is intact
    assert(spark.sql("SELECT count(*) FROM graft_cat.ext2.racer").head.getLong(0) == 1)
  }

  it("subquery DML takes the deletion-vector paths on DV-enabled tables") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.sqdv")
    spark.sql("DROP TABLE IF EXISTS graft_cat.sqdv.t")
    spark.sql(
      """CREATE TABLE graft_cat.sqdv.t
        |USING graft TBLPROPERTIES ('graft.enableDeletionVectors' = 'true')
        |AS SELECT id, CAST(id AS DOUBLE) AS val FROM range(20)""".stripMargin)
    spark.sql("DROP TABLE IF EXISTS graft_cat.sqdv.pick")
    spark.sql("CREATE TABLE graft_cat.sqdv.pick AS SELECT id * 3 AS id FROM range(4)")
    // deletion-vector UPDATE with an IN-subquery condition
    spark.sql("UPDATE graft_cat.sqdv.t SET val = -5 " +
      "WHERE id IN (SELECT id FROM graft_cat.sqdv.pick)")
    assert(spark.table("graft_cat.sqdv.t").where("val = -5").count() == 4) // 0,3,6,9
    // deletion-vector DELETE with a scalar subquery: masks rows via position sidecars
    spark.sql("DELETE FROM graft_cat.sqdv.t " +
      "WHERE id > (SELECT max(id) FROM graft_cat.sqdv.pick) AND id % 2 = 0")
    // deleted: even ids > 9 → 10,12,14,16,18
    assert(spark.table("graft_cat.sqdv.t").count() == 15)
    assert(spark.table("graft_cat.sqdv.t").where("id > 9 AND id % 2 = 0").count() == 0)
    // it really took the DV shape (descriptors, not rewrites)
    val t = GraftTable.forName(spark, "graft_cat.sqdv.t")
    assert(t.snapshot.files.exists(_.dv.exists(_.cardinality > 0)))
  }

  it("native DML evaluates CORRELATED subqueries in conditions AND assignments; rand() stays refused") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ref")
    spark.sql("CREATE TABLE graft_cat.ref.t AS " +
      "SELECT id, CAST(id AS DOUBLE) AS val FROM range(10)")
    // correlated EXISTS: outer references rebind onto each evaluation
    // frame, then Spark's own decorrelation plans the semi join
    spark.sql("UPDATE graft_cat.ref.t SET val = -1 WHERE EXISTS " +
      "(SELECT 1 FROM range(3) r WHERE r.id = graft_cat.ref.t.id)")
    assert(spark.table("graft_cat.ref.t").where("val = -1").count() == 3) // ids 0,1,2
    // correlated NOT EXISTS delete: anti join
    spark.sql("DELETE FROM graft_cat.ref.t WHERE NOT EXISTS " +
      "(SELECT 1 FROM range(8) r WHERE r.id = graft_cat.ref.t.id)")
    assert(spark.table("graft_cat.ref.t").count() == 8) // ids 8,9 gone
    // correlated IN with an extra conjunct
    spark.sql("DELETE FROM graft_cat.ref.t WHERE id IN " +
      "(SELECT r.id FROM range(20) r WHERE r.id = graft_cat.ref.t.id) AND id >= 6")
    assert(spark.table("graft_cat.ref.t").count() == 6) // ids 0..5 remain
    // CORRELATED subqueries in ASSIGNMENTS compute per-row values now
    // (round 15, beyond Delta — full coverage in CorrelatedAssignSpec)
    spark.sql("UPDATE graft_cat.ref.t SET val = (SELECT max(r.id) FROM range(3) r " +
      "WHERE r.id = graft_cat.ref.t.id) WHERE id = 1")
    assert(spark.table("graft_cat.ref.t").where("id = 1 AND val = 1.0").count() == 1)
    val rnd = intercept[Exception] {
      spark.sql("UPDATE graft_cat.ref.t SET val = 0 WHERE rand() < 2")
    }
    assert(rnd.getMessage.contains("deterministic"))
    // per-CLAUSE merge conditions run in the same multi-pass joins — the
    // determinism contract covers them too
    val clauseRnd = intercept[Exception] {
      spark.sql("MERGE INTO graft_cat.ref.t AS t USING (SELECT id FROM range(3)) AS s " +
        "ON t.id = s.id WHEN MATCHED AND rand() < 0.5 THEN DELETE")
    }
    assert(clauseRnd.getMessage.contains("deterministic"))
    // and nothing was mutated by the refused statements (ids 0 and 2 keep
    // val=-1; id 1's val became 1.0 through the correlated assignment)
    assert(spark.table("graft_cat.ref.t").where("val = -1").count() == 2)
  }

  it("SQL SHALLOW CLONE creates a zero-copy catalog table; the clone's vacuum spares the source") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cln")
    spark.sql("CREATE TABLE graft_cat.cln.src AS SELECT id, id * 2 AS v FROM range(10)")
    val r = spark.sql("CREATE TABLE graft_cat.cln.fork SHALLOW CLONE graft_cat.cln.src").collect()
    assert(r.head.getLong(1) >= 1) // numFiles cloned
    assert(spark.table("graft_cat.cln.fork").count() == 10)
    // version 0 of the fork references the source's files by absolute path
    val fork = GraftTable.forName(spark, "graft_cat.cln.fork")
    assert(fork.snapshot.files.forall(f => GraftTable.isExternalPath(f.path)))
    // diverge: the fork's delete rewrites its referenced files locally...
    spark.sql("DELETE FROM graft_cat.cln.fork WHERE id % 2 = 0")
    // ...and its zero-retention vacuum must never delete the SOURCE's files
    graft.operators.TableOps.vacuum(GraftTable.forName(spark, "graft_cat.cln.fork"), 0.0)
    assert(spark.table("graft_cat.cln.src").count() == 10, "source must survive the clone's vacuum")
    assert(spark.table("graft_cat.cln.fork").count() == 5)
    // VERSION AS OF pins a historical clone (v1 = the CTAS data landing,
    // before the INSERT below); IF NOT EXISTS no-ops
    spark.sql("INSERT INTO graft_cat.cln.src VALUES (99, 198)")
    val pinned = spark.sql(
      "CREATE TABLE graft_cat.cln.fork0 SHALLOW CLONE graft_cat.cln.src VERSION AS OF 1").collect()
    assert(pinned.head.getLong(0) == 1L)
    assert(spark.table("graft_cat.cln.fork0").count() == 10)
    val noop = spark.sql(
      "CREATE TABLE IF NOT EXISTS graft_cat.cln.fork0 SHALLOW CLONE graft_cat.cln.src").collect()
    assert(noop.head.getLong(0) == -1L)
    // an existing target without IF NOT EXISTS refuses loudly
    val dup = intercept[Exception] {
      spark.sql("CREATE TABLE graft_cat.cln.fork0 SHALLOW CLONE graft_cat.cln.src")
    }
    assert(dup.getMessage.contains("already exists"))
  }

  it("readChangeFeed option on a catalog identifier matches the path CDF read") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cdf")
    spark.sql("CREATE TABLE graft_cat.cdf.t (id BIGINT, v STRING) USING graft " +
      "TBLPROPERTIES ('graft.enableChangeDataFeed'='true')")
    spark.sql("INSERT INTO graft_cat.cdf.t SELECT id, CAST(id AS STRING) FROM range(5)")
    spark.sql("UPDATE graft_cat.cdf.t SET v = 'upd' WHERE id = 2")
    spark.sql("DELETE FROM graft_cat.cdf.t WHERE id = 4")
    val viaCat = spark.read.option("readChangeFeed", "true")
      .option("startingVersion", "0").table("graft_cat.cdf.t")
      .select("id", "v", "_change_type", "_commit_version")
    val viaPath = spark.read.format("graft").option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .load(Paths.get(warehouse, "cdf", "t").toString)
      .select("id", "v", "_change_type", "_commit_version")
    assertSmallDataFrameEquality(viaCat, viaPath)
    // a projection of only the metadata columns resolves (they extend the
    // V2 table schema through the rule's appended output)
    assert(spark.read.option("readChangeFeed", "true").option("startingVersion", "0")
      .table("graft_cat.cdf.t").select("_change_type").distinct().count() == 4)
  }

  it("native management surfaces: TRUNCATE, CREATE OR REPLACE, writeTo, SHOW CREATE") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.mgmt")
    spark.sql("CREATE TABLE graft_cat.mgmt.t AS SELECT id FROM range(10)")
    spark.sql("TRUNCATE TABLE graft_cat.mgmt.t")
    assert(spark.table("graft_cat.mgmt.t").count() == 0)
    // truncate is a commit: time travel still sees the old rows
    assert(GraftTable.forName(spark, "graft_cat.mgmt.t").toDFAt(1L).count() == 10)
    spark.sql("CREATE OR REPLACE TABLE graft_cat.mgmt.t AS " +
      "SELECT id, 'z' AS z FROM range(7)")
    assert(spark.table("graft_cat.mgmt.t").columns.toSeq == Seq("id", "z"))
    assert(spark.table("graft_cat.mgmt.t").count() == 7)
    spark.range(7, 9).withColumn("z", org.apache.spark.sql.functions.lit("w"))
      .writeTo("graft_cat.mgmt.t").append()
    assert(spark.table("graft_cat.mgmt.t").count() == 9)
    spark.range(0, 3).withColumn("z", org.apache.spark.sql.functions.lit("o"))
      .writeTo("graft_cat.mgmt.t").createOrReplace()
    assert(spark.table("graft_cat.mgmt.t").count() == 3)
    val ddl = spark.sql("SHOW CREATE TABLE graft_cat.mgmt.t").head.getString(0)
    assert(ddl.contains("graft_cat.mgmt.t") && ddl.contains("id BIGINT"))
  }

  it("reader-option time travel and streaming CDF on catalog identifiers") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ttopt")
    spark.sql("CREATE TABLE graft_cat.ttopt.t AS SELECT id FROM range(5)")
    spark.sql("INSERT INTO graft_cat.ttopt.t SELECT id FROM range(100, 103)")
    // option("versionAsOf") pins the scan exactly like SQL VERSION AS OF
    assert(spark.read.option("versionAsOf", "1").table("graft_cat.ttopt.t").count() == 5)
    assert(spark.read.table("graft_cat.ttopt.t").count() == 8)
    assert(spark.sql("SELECT * FROM graft_cat.ttopt.t VERSION AS OF 1").count() == 5)

    // readStream CDF: option("readChangeFeed") keeps the change columns
    // (rows-only remains the default readStream.table shape)
    spark.sql("CREATE TABLE graft_cat.ttopt.c (id BIGINT) USING graft " +
      "TBLPROPERTIES('graft.enableChangeDataFeed'='true')")
    spark.sql("INSERT INTO graft_cat.ttopt.c SELECT id FROM range(4)")
    spark.sql("DELETE FROM graft_cat.ttopt.c WHERE id = 2")
    val q = spark.readStream
      .option("readChangeFeed", "true").option("startingVersion", "0")
      .table("graft_cat.ttopt.c")
      .writeStream.format("memory").queryName("cat_cdf_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val out = spark.table("cat_cdf_stream")
    assert(out.columns.toSeq == Seq("id", "_change_type", "_commit_version"))
    assert(out.count() == 5) // 4 inserts + 1 delete
    assert(out.where("_change_type = 'delete'").count() == 1)
  }

  it("ALTER COLUMN TYPE widens losslessly, metadata-only, feature-branded") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.wid")
    spark.sql("CREATE TABLE graft_cat.wid.t AS SELECT CAST(id AS INT) AS id, " +
      "CAST(id AS FLOAT) AS score FROM range(10)")
    spark.sql("ALTER TABLE graft_cat.wid.t ALTER COLUMN id TYPE BIGINT")
    spark.sql("ALTER TABLE graft_cat.wid.t ALTER COLUMN score TYPE DOUBLE")
    val df = spark.table("graft_cat.wid.t")
    assert(df.schema("id").dataType == org.apache.spark.sql.types.LongType)
    assert(df.schema("score").dataType == org.apache.spark.sql.types.DoubleType)
    // OLD files' int32/float values upcast at scan time — no rewrite
    assert(df.where("id = 7").count() == 1)
    assert(df.agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 45)
    val t = GraftTable.forName(spark, "graft_cat.wid.t")
    assert(t.history().count(_._2.operation == "ALTER COLUMN TYPE") == 2)
    assert(t.snapshot.protocol.readerFeatures.contains("typeWidening"))
    // post-widen appends carry the wide type; both generations co-scan
    spark.sql("INSERT INTO graft_cat.wid.t SELECT 5000000000, 1.5")
    assert(spark.table("graft_cat.wid.t").where("id > 4000000000").count() == 1)
    // narrowing refuses loudly — Spark's own analyzer rejects it before
    // the catalog; non-lossless changes Spark WOULD allow (e.g. long →
    // string) hit graft's own widening matrix
    intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.wid.t ALTER COLUMN id TYPE INT")
    }
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.wid.t ALTER COLUMN id TYPE STRING")
    }
    assert(String.valueOf(e.getMessage).contains("lossless") ||
      String.valueOf(e.getCause).contains("lossless") ||
      e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    // NESTED struct-field widening: the same per-leaf reader upcast
    spark.sql("CREATE TABLE graft_cat.wid.n AS " +
      "SELECT id, named_struct('a', CAST(id AS INT), 'b', CAST(id AS FLOAT)) AS s FROM range(8)")
    spark.sql("ALTER TABLE graft_cat.wid.n ALTER COLUMN s.a TYPE BIGINT")
    val nT = spark.table("graft_cat.wid.n").schema("s").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(nT("a").dataType == org.apache.spark.sql.types.LongType)
    // old files' nested int32 leaves upcast at scan — values intact
    assert(spark.sql("SELECT sum(s.a) FROM graft_cat.wid.n").head.getLong(0) == 28L)
    spark.sql("INSERT INTO graft_cat.wid.n SELECT 99, named_struct('a', 6000000000L, 'b', CAST(1.0 AS FLOAT))")
    assert(spark.sql("SELECT count(*) FROM graft_cat.wid.n WHERE s.a > 5000000000").head.getLong(0) == 1)
    // THROUGH AN ARRAY: Spark's element spelling addresses the struct field
    spark.sql("CREATE TABLE graft_cat.wid.arr AS " +
      "SELECT id, array(named_struct('a', CAST(id AS INT))) AS arr FROM range(4)")
    spark.sql("ALTER TABLE graft_cat.wid.arr ALTER COLUMN arr.element.a TYPE BIGINT")
    assert(spark.sql("SELECT sum(arr[0].a) FROM graft_cat.wid.arr").head.getLong(0) == 6L)
    spark.sql("ALTER TABLE graft_cat.wid.arr RENAME COLUMN arr.element.a TO a2")
    assert(spark.sql("SELECT sum(arr[0].a2) FROM graft_cat.wid.arr").head.getLong(0) == 6L)
  }

  it("rename/drop refuse while a commit is in flight; stale claims unblock") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.adm")
    spark.sql("CREATE TABLE graft_cat.adm.t AS SELECT id FROM range(5)")
    val logDir = Paths.get(warehouse, "adm", "t", "_graft_log")
    // a FRESH claim marker = a writer mid-commit: admin ops must refuse
    // loudly rather than race the landing
    val claim = logDir.resolve("00000000000000000002.json.claim")
    Files.createFile(claim)
    val r = intercept[Exception] {
      spark.sql("ALTER TABLE graft_cat.adm.t RENAME TO adm.t2")
    }
    assert(r.getMessage.contains("in flight") ||
      String.valueOf(r.getCause).contains("in flight"))
    val d = intercept[Exception] { spark.sql("DROP TABLE graft_cat.adm.t") }
    assert(d.getMessage.contains("in flight") ||
      String.valueOf(d.getCause).contains("in flight"))
    assert(GraftTable.exists(Paths.get(warehouse, "adm", "t").toString))
    // an AGED claim is a crashed claimant, not an in-flight commit
    Files.setLastModifiedTime(claim, java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * graft.tables.GraftLog.StaleClaimMillis))
    spark.sql("ALTER TABLE graft_cat.adm.t RENAME TO adm.t2")
    assert(spark.sql("SELECT count(*) FROM graft_cat.adm.t2").head.getLong(0) == 5)
    spark.sql("DROP TABLE graft_cat.adm.t2")
    assert(!GraftTable.exists(Paths.get(warehouse, "adm", "t2").toString))
  }

  it("identifier parts cannot escape the warehouse tree") {
    val _ = warehouse
    intercept[Exception] {
      spark.sql("CREATE TABLE graft_cat.`..`.`evil` AS SELECT id FROM range(1)")
    }
    intercept[Exception] {
      spark.sql("SELECT * FROM graft_cat.ns.`../../etc`").collect()
    }
  }
}
