package graft

import org.scalatest.funspec.AnyFunSpec

import graft.tables.GraftTable

/** `` graft.`/path` `` identifiers in plain SQL relation positions —
  * resolved by [[graft.catalog.GraftSessionCatalog]] (the spark_catalog
  * wrapper) at CATALOG resolution, before `ResolveSQLOnFile` gets the
  * chance to refuse a non-FileFormat source. Delegation is the contract:
  * every non-graft-path identifier must behave exactly as the builtin
  * session catalog.
  */
class GraftPathSqlSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  it("SELECT / subquery / join / INSERT / time travel over graft.`/path`") {
    val dir = tmpTableDir("pathsql")
    val t = GraftTable.create(spark, dir, spark.range(10).toDF("id"))
    t.append(spark.range(10, 15).toDF("id"))
    // direct SELECT
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir`").head.getLong(0) == 15)
    // subquery position — the shape a DML condition's inner relation
    // analyzes through (previously UNSUPPORTED_DATASOURCE_FOR_DIRECT_QUERY)
    spark.range(20).toDF("k").createOrReplaceTempView("pathsql_probe")
    assert(spark.sql("SELECT count(*) FROM pathsql_probe " +
      s"WHERE k IN (SELECT id FROM graft.`$dir`)").head.getLong(0) == 15)
    // join position; the scan is the native vectorized path
    val joined = spark.sql(
      s"SELECT count(*) FROM pathsql_probe p JOIN graft.`$dir` g ON p.k = g.id")
    assert(joined.head.getLong(0) == 15)
    // time travel: VERSION AS OF and TIMESTAMP AS OF (far future = latest)
    assert(spark.sql(s"SELECT count(*) FROM graft.`$dir` VERSION AS OF 0")
      .head.getLong(0) == 10)
    assert(spark.sql(
      s"SELECT count(*) FROM graft.`$dir` TIMESTAMP AS OF '2999-01-01'")
      .head.getLong(0) == 15)
    // INSERT INTO a path table rides the commit log
    spark.sql(s"INSERT INTO graft.`$dir` SELECT 99 AS id")
    assert(GraftTable.forPath(spark, dir).toDF.count() == 16)
    assert(GraftTable.forPath(spark, dir).version == 2)
  }

  it("path-DML with subqueries: the inner graft.`/path` relation resolves through the wrapper") {
    // the DML statement itself is claimed by graft's parser (BoundExpr.Text),
    // but its condition/assignment SUBQUERIES analyze through Spark —
    // before the wrapper, an inner graft path died in ResolveSQLOnFile
    val a = tmpTableDir("pathdml-a"); val b = tmpTableDir("pathdml-b")
    GraftTable.create(spark, a, spark.range(20).toDF("id"))
    GraftTable.create(spark, b, spark.range(5).selectExpr("id * 2 AS k"))
    spark.sql(s"DELETE FROM graft.`$a` WHERE EXISTS " +
      s"(SELECT 1 FROM graft.`$b` x WHERE x.k = id)")
    assert(GraftTable.forPath(spark, a).toDF.count() == 15)
    spark.sql(s"UPDATE graft.`$a` SET id = id + " +
      s"(SELECT max(k) FROM graft.`$b`) WHERE id < 3")
    assert(GraftTable.forPath(spark, a).toDF
      .agg(org.apache.spark.sql.functions.sum("id")).head.getLong(0) == 178)
  }

  it("delegation: non-graft identifiers and non-table paths stay the builtin catalog's") {
    // a graft-namespace identifier that is NOT a path: delegate (loudly
    // missing, not claimed)
    intercept[Throwable] { spark.sql("SELECT * FROM graft.no_such_table") }
    // a path WITHOUT a graft table at it: delegate refuses as before
    val empty = tmpTableDir("pathsql-empty")
    intercept[Throwable] { spark.sql(s"SELECT * FROM graft.`$empty`").collect() }
    // ordinary session-catalog traffic is untouched
    spark.sql("DROP TABLE IF EXISTS pathsql_plain")
    spark.sql("CREATE TABLE pathsql_plain (a INT) USING parquet")
    spark.sql("INSERT INTO pathsql_plain VALUES (1), (2)")
    assert(spark.sql("SELECT count(*) FROM pathsql_plain").head.getLong(0) == 2)
    spark.sql("DROP TABLE pathsql_plain")
    // direct parquet file queries (ResolveSQLOnFile's own territory) work
    val pq = tmpTableDir("pathsql-pq")
    Seq(1, 2, 3).toDF("x").write.mode("overwrite").parquet(pq)
    assert(spark.sql(s"SELECT count(*) FROM parquet.`$pq`").head.getLong(0) == 3)
    // CREATE in path position refuses loudly — with USING graft the V1
    // create path refuses first ("requires a path"); the wrapper's own
    // refusal covers V2-provider and API routes
    val e = intercept[Exception] {
      spark.sql("CREATE TABLE graft.`/tmp/pathsql-nope` (a INT) USING graft")
    }
    assert(e.getMessage.contains("path") ||
      e.getMessage.contains("immediately queryable"), e.getMessage)
    assert(!GraftTable.exists("/tmp/pathsql-nope"))
  }
}
