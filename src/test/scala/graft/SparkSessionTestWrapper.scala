package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared local session for specs (analogue of the reference's
  * SparkSessionTestWrapper.scala:8-19, re-done for Spark 4 / no Delta).
  */
trait SparkSessionTestWrapper {
  lazy val spark: SparkSession = SparkSessionTestWrapper.session

  /** Unordered DataFrame equality assert (replaces spark-fast-tests). */
  def assertSmallDataFrameEquality(actual: DataFrame, expected: DataFrame): Unit = {
    val aSchema = actual.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    val eSchema = expected.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq
    assert(aSchema == eSchema, s"schema mismatch:\n  actual:   $aSchema\n  expected: $eSchema")
    val cols = actual.columns.sorted.map(col).toSeq
    val a = actual.select(cols: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    val e = expected.select(cols: _*).collect().map(_.toSeq).sortBy(_.mkString("|"))
    assert(a.length == e.length, s"row count mismatch: actual ${a.length} expected ${e.length}")
    a.zip(e).zipWithIndex.foreach { case ((ar, er), i) =>
      assert(ar == er, s"row $i mismatch:\n  actual:   $ar\n  expected: $er")
    }
  }

  def tmpTableDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("table").toString

  /** `body`'s result and the messages logged under `org.apache.spark.rdd`
    * on this thread while it ran (where an operator frees its blocks).
    */
  def rddLogEvents[T](body: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val thread = Thread.currentThread().getName
    val events = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"rdd-events-$thread", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getThreadName == thread) events.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger("org.apache.spark.rdd").asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    val result =
      try body
      finally { logger.removeAppender(appender); appender.stop() }
    import scala.jdk.CollectionConverters._
    (result, events.asScala.toSeq)
  }
}

object SparkSessionTestWrapper {
  /** Shared row-evaluation counter for the scalar-subquery splice-bound
    * spec (a UDF closure must reach a JVM-singleton, not a suite field).
    */
  val scalarSubqueryEvals = new java.util.concurrent.atomic.AtomicLong(0L)

  /** ONE `graft_cat` warehouse for every suite that exercises the V2
    * catalog. Suites run in PARALLEL against the shared session, so each
    * suite setting its own warehouse dir would clobber the others
    * mid-test; a JVM singleton makes the conf set idempotent (same
    * values), and suites isolate by NAMESPACE instead.
    */
  lazy val catalogWarehouse: String = {
    val w = java.nio.file.Files.createTempDirectory("graft-shared-wh").toString
    session.conf.set("spark.sql.catalog.graft_cat",
      classOf[graft.catalog.GraftCatalog].getName)
    session.conf.set("spark.sql.catalog.graft_cat.warehouse", w)
    w
  }

  lazy val session: SparkSession = {
    val s = SparkSession
      .builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      // the production registration (parser + catalog read fallback): specs
      // run against the same session shape a configured user gets, and the
      // extension must stay a pure superset of Spark SQL for every suite
      .config("spark.sql.extensions", "graft.sql.GraftSparkSessionExtension")
      // the spark_catalog wrapper (production shape for graft.`/path` SQL):
      // a pure delegate for everything that is not a graft path identifier,
      // so every suite doubles as its do-no-harm soak
      .config("spark.sql.catalog.spark_catalog",
        "graft.catalog.GraftSessionCatalog")
      // the faux:// remote-scheme filesystem for the URI-table specs —
      // registered exactly how a production deployment registers a custom
      // scheme (FileSystem + FileContext bindings)
      .config("spark.hadoop.fs.faux.impl", "graft.tools.FauxFileSystem")
      .config("spark.hadoop.fs.AbstractFileSystem.faux.impl", "graft.tools.FauxAbstractFs")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
