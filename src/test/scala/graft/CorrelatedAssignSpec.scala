package graft

import org.scalatest.funspec.AnyFunSpec

import graft.tables.GraftTable

/** PER-ROW correlated scalar subqueries in `UPDATE ... SET` assignments —
  * beyond Delta (which refuses them): the assignment stays a resolved
  * expression (`BoundExpr.Resolved`), rebinds its outer references onto
  * the rewrite frame, Spark's own decorrelation plans the left-outer join
  * + aggregate, and the subquery's graft sources are snapshot-pinned so the
  * data write and the CDC post-image see one state.
  */
class CorrelatedAssignSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private lazy val warehouse: String = SparkSessionTestWrapper.catalogWarehouse

  it("UPDATE SET x = (correlated scalar) computes per-row values; no-match rows get NULL") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ca.t")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ca.s")
    // t: 10 rows, k = id % 3 (k=2 has no match in s); s: per-k values
    spark.sql("CREATE TABLE graft_cat.ca.t AS " +
      "SELECT id, id % 3 AS k, CAST(0.0 AS DOUBLE) AS v FROM range(10)")
    spark.sql("CREATE TABLE graft_cat.ca.s AS " +
      "SELECT * FROM VALUES (0, 100.0), (0, 200.0), (1, 50.0) AS s(k, y)")
    spark.sql(
      """UPDATE graft_cat.ca.t
        |SET v = (SELECT max(y) FROM graft_cat.ca.s s WHERE s.k = t.k) + id
        |WHERE k < 2 OR k = 2""".stripMargin)
    val got = spark.table("graft_cat.ca.t").as[(Long, Long, Option[Double])]
      .collect().sortBy(_._1).toSeq
    val want = (0L until 10L).map { id =>
      val k = id % 3
      val mx = k match { case 0 => Some(200.0); case 1 => Some(50.0); case _ => None }
      (id, k, mx.map(_ + id)) // scalar subquery with no match -> NULL -> v NULL
    }
    assert(got == want, s"got $got")
  }

  it("correlated SET mixes with plain assignments and a correlated condition; CDF post-image agrees") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ca.c")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ca.dim")
    spark.sql("CREATE TABLE graft_cat.ca.c " +
      "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
      "SELECT id, id % 4 AS g, CAST(id AS DOUBLE) AS v, 'x' AS tag FROM range(12)")
    spark.sql("CREATE TABLE graft_cat.ca.dim AS " +
      "SELECT * FROM VALUES (0, 7.0), (1, 11.0), (2, 13.0), (3, 17.0) AS d(g, w)")
    spark.sql(
      """UPDATE graft_cat.ca.c
        |SET v = v * (SELECT w FROM graft_cat.ca.dim d WHERE d.g = c.g),
        |    tag = 'scaled'
        |WHERE EXISTS (SELECT 1 FROM graft_cat.ca.dim d WHERE d.g = c.g AND d.w > 10)""".stripMargin)
    val weights = Map(0L -> 7.0, 1L -> 11.0, 2L -> 13.0, 3L -> 17.0)
    val got = spark.table("graft_cat.ca.c").as[(Long, Long, Double, String)]
      .collect().sortBy(_._1).toSeq
    val want = (0L until 12L).map { id =>
      val g = id % 4
      if (weights(g) > 10) (id, g, id * weights(g), "scaled")
      else (id, g, id.toDouble, "x")
    }
    assert(got == want, s"got $got")
    // the CDC post-image rows carry the SAME computed values (the second
    // evaluation of the correlated subquery, over pinned sources)
    val t = GraftTable.forName(spark, "graft_cat.ca.c")
    val post = graft.log.ChangeDataFeedHelper(spark, t.path, t.version, t.version)
      .readCDF.where("_change_type = 'update_postimage'")
      .selectExpr("id", "v").as[(Long, Double)].collect().toMap
    assert(post.size == 9) // g in {1,2,3}: 9 of 12 rows
    post.foreach { case (id, v) => assert(v == id * weights(id % 4), s"id=$id v=$v") }
  }

  it("MERGE clause conditions and UPDATE/INSERT values accept per-row correlated scalars") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("mt", "ms", "md").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.mt " +
      "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(8)")
    spark.sql("CREATE TABLE graft_cat.ca.ms AS " +
      "SELECT id, CAST(id * 10 AS DOUBLE) AS x FROM range(4, 12)")
    spark.sql("CREATE TABLE graft_cat.ca.md AS SELECT * FROM VALUES " +
      "(4, 9.0), (5, 3.0), (8, 2.0), (9, 7.0) AS d(id, w)")
    spark.sql(
      """MERGE INTO graft_cat.ca.mt t USING graft_cat.ca.ms s ON t.id = s.id
        |WHEN MATCHED AND (SELECT max(w) FROM graft_cat.ca.md d WHERE d.id = t.id) > 5
        |  THEN UPDATE SET v = s.x + (SELECT min(w) FROM graft_cat.ca.md d WHERE d.id = s.id)
        |WHEN NOT MATCHED THEN INSERT (id, v)
        |  VALUES (s.id, coalesce((SELECT max(w) FROM graft_cat.ca.md d WHERE d.id = s.id), 0) + s.x)
        |""".stripMargin)
    val got = spark.table("graft_cat.ca.mt").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    // matched 4..7: only id=4 passes the correlated condition (max(w)=9>5;
    // id=5 has 3, 6/7 have NULL) -> v = 40 + 9; inserts 8..11 add the
    // per-id max(w) (0 when the dim has no row)
    val want = Seq(0L -> 0.0, 1L -> 1.0, 2L -> 2.0, 3L -> 3.0,
      4L -> 49.0, 5L -> 5.0, 6L -> 6.0, 7L -> 7.0,
      8L -> 82.0, 9L -> 97.0, 10L -> 100.0, 11L -> 110.0)
    assert(got == want, s"got $got")
    // the CDC images re-evaluate the same pinned subqueries: post-image and
    // insert rows agree with the table
    val t = GraftTable.forName(spark, "graft_cat.ca.mt")
    val cdc = graft.log.ChangeDataFeedHelper(spark, t.path, t.version, t.version).readCDF
    val post = cdc.where("_change_type = 'update_postimage'")
      .selectExpr("id", "v").as[(Long, Double)].collect().toSeq
    assert(post == Seq(4L -> 49.0), s"got $post")
    val ins = cdc.where("_change_type = 'insert'")
      .selectExpr("id", "v").as[(Long, Double)].collect().sortBy(_._1).toSeq
    assert(ins == Seq(8L -> 82.0, 9L -> 97.0, 10L -> 100.0, 11L -> 110.0), s"got $ins")
  }

  it("insert-only MERGE evaluates correlated scalars in NOT MATCHED condition and values") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("it", "is", "id2").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.it AS SELECT id, CAST(0 AS DOUBLE) AS v FROM range(3)")
    spark.sql("CREATE TABLE graft_cat.ca.is AS SELECT id, CAST(id AS DOUBLE) AS x FROM range(10)")
    spark.sql("CREATE TABLE graft_cat.ca.id2 AS SELECT * FROM VALUES " +
      "(5, 1.5), (6, 0.5), (7, 2.0) AS d(id, w)")
    // no matched clauses -> the anti-join fast path; the correlated
    // condition and value bind onto the source-only frame
    spark.sql(
      """MERGE INTO graft_cat.ca.it t USING graft_cat.ca.is s ON t.id = s.id
        |WHEN NOT MATCHED AND (SELECT w FROM graft_cat.ca.id2 d WHERE d.id = s.id) > 1
        |  THEN INSERT (id, v) VALUES (s.id, s.x * (SELECT w FROM graft_cat.ca.id2 d WHERE d.id = s.id))
        |""".stripMargin)
    val got = spark.table("graft_cat.ca.it").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    // unmatched 3..9; condition passes only for 5 (1.5) and 7 (2.0)
    assert(got == Seq(0L -> 0.0, 1L -> 0.0, 2L -> 0.0, 5L -> 7.5, 7L -> 14.0), s"got $got")
  }

  it("correlated MERGE values disambiguate same-named columns by ORIGIN") {
    // target and source both carry `id` and `v`; the update value's
    // subquery correlates on the SOURCE's v, the outer expression reads the
    // TARGET's v — the frag must rebind each onto its own side of the join
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("at", "as2", "ad").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.at AS SELECT id, CAST(id AS DOUBLE) AS v FROM range(4)")
    spark.sql("CREATE TABLE graft_cat.ca.as2 AS SELECT id, CAST(id * 100 AS DOUBLE) AS v FROM range(4)")
    spark.sql("CREATE TABLE graft_cat.ca.ad AS SELECT * FROM VALUES " +
      "(0.0, 1.0), (100.0, 2.0), (200.0, 3.0), (300.0, 4.0) AS d(key, w)")
    spark.sql(
      """MERGE INTO graft_cat.ca.at t USING graft_cat.ca.as2 s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET
        |  v = t.v + (SELECT max(w) FROM graft_cat.ca.ad d WHERE d.key = s.v)
        |""".stripMargin)
    val got = spark.table("graft_cat.ca.at").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    // t.v = id, s.v = id*100 -> w by s.v: 0->1, 100->2, 200->3, 300->4
    assert(got == Seq(0L -> 1.0, 1L -> 3.0, 2L -> 5.0, 3L -> 7.0), s"got $got")
  }

  it("MERGE ON: constant IN/EXISTS evaluate once and splice; correlated stays refused") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("rt", "rs", "rd").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.rt AS SELECT id, id AS v FROM range(6)")
    spark.sql("CREATE TABLE graft_cat.ca.rs AS SELECT id, id AS x FROM range(6)")
    spark.sql("CREATE TABLE graft_cat.ca.rd AS SELECT * FROM VALUES (1), (3) AS d(id)")
    // non-correlated IN in ON: a per-statement constant set — rows 1 and 3
    // match and delete
    spark.sql(
      """MERGE INTO graft_cat.ca.rt t USING graft_cat.ca.rs s
        |ON t.id = s.id AND s.id IN (SELECT id FROM graft_cat.ca.rd)
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.table("graft_cat.ca.rt").select("id").as[Long]
      .collect().sorted.toSeq == Seq(0L, 2L, 4L, 5L))
    // non-correlated EXISTS in ON over an EMPTY set: constant FALSE — no-op
    spark.sql(
      """MERGE INTO graft_cat.ca.rt t USING graft_cat.ca.rs s
        |ON t.id = s.id AND EXISTS (SELECT 1 FROM graft_cat.ca.rd WHERE id > 100)
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(spark.table("graft_cat.ca.rt").count() == 4)
    // correlated subqueries in ON keep the refusal: they run inside the
    // join, where no decorrelation applies
    val eOn = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft_cat.ca.rt t USING graft_cat.ca.rs s
          |ON t.id = s.id AND (SELECT max(v) FROM graft_cat.ca.rt r WHERE r.id = s.id) > 0
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(eOn.getMessage.contains("SCALAR") || eOn.getMessage.contains("subquer"),
      eOn.getMessage)
    val eOnIn = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft_cat.ca.rt t USING graft_cat.ca.rs s
          |ON t.id = s.id AND s.id IN (SELECT id FROM graft_cat.ca.rd WHERE id = s.x)
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(eOnIn.getMessage.contains("SCALAR") || eOnIn.getMessage.contains("subquer"),
      eOnIn.getMessage)
    // the splice BOUND rides the collect (limit pushed into the subquery
    // plan) — an over-bound set refuses without materializing its full
    // result on the driver
    spark.sql("DROP TABLE IF EXISTS graft_cat.ca.rbig")
    spark.sql("CREATE TABLE graft_cat.ca.rbig AS SELECT id FROM range(5000)")
    val eBig = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft_cat.ca.rt t USING graft_cat.ca.rs s
          |ON t.id = s.id AND s.id IN (SELECT id FROM graft_cat.ca.rbig)
          |WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(eBig.getMessage.contains("more than 1000"), eBig.getMessage)
  }

  it("MERGE clause conditions accept set-valued IN/EXISTS subqueries") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("svt", "svs", "svd").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.svt " +
      "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
      "SELECT id, CAST(id AS DOUBLE) AS v FROM range(6)")
    spark.sql("CREATE TABLE graft_cat.ca.svs AS " +
      "SELECT id, CAST(id * 10 AS DOUBLE) AS x FROM range(2, 9)")
    spark.sql("CREATE TABLE graft_cat.ca.svd AS SELECT * FROM VALUES " +
      "(2), (4), (7) AS d(id)")
    // matched 2..5: IN picks 2 and 4 (delete 2, update 4 via the EXISTS
    // clause order below); not-matched 6..8: insert only ids in the dim (7)
    spark.sql(
      """MERGE INTO graft_cat.ca.svt t USING graft_cat.ca.svs s ON t.id = s.id
        |WHEN MATCHED AND t.id IN (SELECT id FROM graft_cat.ca.svd) AND t.id < 3 THEN DELETE
        |WHEN MATCHED AND EXISTS (SELECT 1 FROM graft_cat.ca.svd d WHERE d.id = t.id)
        |  THEN UPDATE SET v = s.x
        |WHEN NOT MATCHED AND s.id IN (SELECT id FROM graft_cat.ca.svd) THEN INSERT (id, v)
        |  VALUES (s.id, s.x)""".stripMargin)
    val got = spark.table("graft_cat.ca.svt").as[(Long, Double)]
      .collect().sortBy(_._1).toSeq
    val want = Seq(0L -> 0.0, 1L -> 1.0, 3L -> 3.0, 4L -> 40.0, 5L -> 5.0, 7L -> 70.0)
    assert(got == want, s"got $got")
    // the CDC rows replay the same dispositions
    val t = GraftTable.forName(spark, "graft_cat.ca.svt")
    val cdc = graft.log.ChangeDataFeedHelper(spark, t.path, t.version, t.version).readCDF
    val byType = cdc.selectExpr("_change_type", "id").as[(String, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(byType("delete") == Seq(2L))
    assert(byType("update_postimage") == Seq(4L))
    assert(byType("insert") == Seq(7L))
  }

  it("UPDATE SET accepts set-valued subquery values; CDF post-image agrees") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("bf", "bd").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.bf " +
      "TBLPROPERTIES('graft.enableChangeDataFeed'='true') AS " +
      "SELECT id, CAST(false AS BOOLEAN) AS hot, 'n' AS tag FROM range(8)")
    spark.sql("CREATE TABLE graft_cat.ca.bd AS SELECT * FROM VALUES " +
      "(1, 5.0), (3, 20.0), (5, 30.0), (9, 40.0) AS d(id, w)")
    // non-correlated IN as a boolean SET value, plus a CORRELATED EXISTS
    // value and a plain text assignment in the same statement
    spark.sql(
      """UPDATE graft_cat.ca.bf
        |SET hot = id IN (SELECT id FROM graft_cat.ca.bd WHERE w > 10),
        |    tag = CASE WHEN EXISTS (SELECT 1 FROM graft_cat.ca.bd d WHERE d.id = bf.id)
        |               THEN 'dim' ELSE 'none' END
        |WHERE id < 6""".stripMargin)
    val got = spark.table("graft_cat.ca.bf").as[(Long, Boolean, String)]
      .collect().sortBy(_._1).toSeq
    val want = Seq(
      (0L, false, "none"), (1L, false, "dim"), (2L, false, "none"),
      (3L, true, "dim"), (4L, false, "none"), (5L, true, "dim"),
      (6L, false, "n"), (7L, false, "n"))
    assert(got == want, s"got $got")
    val t = GraftTable.forName(spark, "graft_cat.ca.bf")
    val post = graft.log.ChangeDataFeedHelper(spark, t.path, t.version, t.version)
      .readCDF.where("_change_type = 'update_postimage'")
      .selectExpr("id", "hot", "tag").as[(Long, Boolean, String)]
      .collect().sortBy(_._1).toSeq
    assert(post == want.take(6), s"got $post")
  }

  it("set-valued and correlated SET values take the deletion-vector path too") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("dv", "dvd").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.dv " +
      "TBLPROPERTIES('graft.enableDeletionVectors'='true') AS " +
      "SELECT id, CAST(false AS BOOLEAN) AS hot, CAST(id AS DOUBLE) AS v FROM range(10)")
    spark.sql("CREATE TABLE graft_cat.ca.dvd AS SELECT * FROM VALUES " +
      "(1, 5.0), (3, 20.0), (7, 30.0) AS d(id, w)")
    spark.sql(
      """UPDATE graft_cat.ca.dv
        |SET hot = id IN (SELECT id FROM graft_cat.ca.dvd WHERE w > 10),
        |    v = v + coalesce((SELECT max(w) FROM graft_cat.ca.dvd d
        |                      WHERE d.id = dv.id), 0)
        |WHERE id < 8""".stripMargin)
    // the update went through the DV engine: a rewrite would keep file
    // counts, the DV path re-adds files with dv sidecars for partial hits
    val got = spark.table("graft_cat.ca.dv").as[(Long, Boolean, Double)]
      .collect().sortBy(_._1).toSeq
    val dimW = Map(1L -> 5.0, 3L -> 20.0, 7L -> 30.0)
    val want = (0L until 10L).map { id =>
      if (id < 8) (id, Set(3L, 7L).contains(id), id + dimW.getOrElse(id, 0.0))
      else (id, false, id.toDouble)
    }
    assert(got == want, s"got $got")
  }

  it("insert-only MERGE evaluates set-valued gates on the anti-join fast path") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    Seq("fpt", "fps", "fpd").foreach(n => spark.sql(s"DROP TABLE IF EXISTS graft_cat.ca.$n"))
    spark.sql("CREATE TABLE graft_cat.ca.fpt AS SELECT id, id AS v FROM range(5)")
    spark.sql("CREATE TABLE graft_cat.ca.fps AS SELECT id, id * 10 AS x FROM range(3, 9)")
    spark.sql("CREATE TABLE graft_cat.ca.fpd AS SELECT * FROM VALUES (6), (8) AS d(id)")
    // ONLY not-matched clauses → the insert-only anti-join fast path; the
    // IN gate must evaluate over the source-only frame
    spark.sql(
      """MERGE INTO graft_cat.ca.fpt t USING graft_cat.ca.fps s ON t.id = s.id
        |WHEN NOT MATCHED AND s.id IN (SELECT id FROM graft_cat.ca.fpd)
        |  THEN INSERT (id, v) VALUES (s.id, s.x)""".stripMargin)
    val got = spark.table("graft_cat.ca.fpt").as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    // unmatched source ids 5..8; the dim admits 6 and 8
    val want = (0L until 5L).map(i => (i, i)) ++ Seq(6L -> 60L, 8L -> 80L)
    assert(got == want, s"got $got")
  }

  it("lateral/table-valued subqueries in SET stay refused loudly") {
    val _ = warehouse
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.ca")
    spark.sql("DROP TABLE IF EXISTS graft_cat.ca.r")
    spark.sql("CREATE TABLE graft_cat.ca.r AS SELECT id, id AS v FROM range(3)")
    // a set-RETURNING value (not a predicate) has no row-level evaluation:
    // the scalar-subquery multi-row error or the refusal must surface, never
    // a silent first-row pick
    val e = intercept[Exception] {
      spark.sql("UPDATE graft_cat.ca.r SET v = (SELECT id FROM graft_cat.ca.r)")
    }
    assert(e.getMessage.contains("more than one row") ||
      e.getMessage.toLowerCase.contains("multi"), e.getMessage)
  }
}
