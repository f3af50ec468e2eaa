package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils, SparkSession => ClassicSparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** Minimal bridge to a few `private[sql]` constructors the graft read path
  * needs: building a DataFrame from a hand-assembled `LogicalRelation`, and
  * wrapping custom Catalyst expressions into `Column`s.
  * Lives in an `org.apache.spark.sql.*` package solely for access scope —
  * the standard technique of Spark-ecosystem table formats; no Spark
  * internals are modified or shadowed.
  */
object SparkBridge {

  /** DataFrame over `relation` (e.g. a HadoopFsRelation wired to a
    * commit-log file index), planned by the stock file-source strategy.
    */
  def ofRelation(spark: org.apache.spark.sql.SparkSession, relation: BaseRelation): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], LogicalRelation(relation))

  /** DataFrame over an arbitrary `LogicalPlan` (e.g. a graft maintenance
    * command parsed outside a session that registered the extension).
    */
  def ofPlan(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[ClassicSparkSession], plan)

  /** A clone of `spark` — same confs, catalog and listeners — whose file
    * scans never pack two files into one task: the per-file open cost is
    * raised to the split size, so each file, or each split of a file larger
    * than that, gets its own scan task. A relation built on the clone plans
    * its splits by this rule in whichever session runs the query, since the
    * scan reads its split settings from the relation's session.
    */
  def onePartitionPerFile(spark: org.apache.spark.sql.SparkSession)
    : org.apache.spark.sql.SparkSession = {
    import org.apache.spark.sql.internal.SQLConf
    val clone = spark.asInstanceOf[ClassicSparkSession].cloneSession()
    val conf = clone.sessionState.conf
    conf.setConf(SQLConf.FILES_OPEN_COST_IN_BYTES, conf.filesMaxPartitionBytes)
    conf.unsetConf(SQLConf.FILES_MAX_PARTITION_NUM)
    clone
  }

  /** `df`, a locally checkpointed Dataset, sized for the planner as `rows`
    * rows of its schema's default row width. A checkpoint keeps the size
    * estimate of the plan it froze, which for a shuffled or streamed plan
    * can sit far above what it holds, so joins against it never broadcast.
    * Any other plan is returned as is.
    */
  def withRowCount(df: DataFrame, rows: Long): DataFrame = df.queryExecution.logical match {
    case r: org.apache.spark.sql.execution.LogicalRDD =>
      import org.apache.spark.sql.catalyst.plans.logical.Statistics
      import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
      val stats = Statistics(
        sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows, rowCount = Some(BigInt(rows)))
      val session = df.sparkSession.asInstanceOf[ClassicSparkSession]
      Dataset.ofRows(session, r.copy()(session, Some(stats), Some(r.constraints)))
    case _ => df
  }

  /** Drop RDD `id`'s cached or locally checkpointed blocks, as
    * `RDD.unpersist` does, without its warning that a locally checkpointed
    * RDD cannot be recomputed afterwards — logged once per freed RDD.
    */
  def freeBlocks(spark: org.apache.spark.sql.SparkSession, id: Int): Unit =
    spark.sparkContext.unpersistRDD(id, blocking = false)

  /** `Column` over a custom Catalyst expression (e.g. graft's codegen'd
    * MinHash signature) — the Spark 4 replacement for the removed public
    * `Column(expr)` constructor.
    */
  def column(e: Expression): Column = ExpressionUtils.column(e)

  /** The Catalyst expression behind a `Column` (inverse of [[column]]). */
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** FULL ColumnNode→Catalyst conversion of a composed `Column`. Unlike
    * [[expression]] — which wraps the column's node tree in an opaque
    * `ColumnNodeExpression` that only a Dataset operation can resolve — this
    * produces a real Catalyst tree (`UnresolvedFunction` etc.) the analyzer
    * resolves in ANY context, which is what a `FunctionRegistry` builder
    * must return (a node-wrapped column there analyzes "resolved" but is
    * Unevaluable and dies at codegen).
    */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter.apply(c.node)

  /** Register a custom Catalyst expression as a session-scoped SQL function
    * (the `FunctionRegistry` route Delta/Sedona/etc. use for their SQL
    * surface — `spark.udf.register` can only wrap boxed Scala closures, not
    * codegen'd expressions).
    */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[ClassicSparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** An `isStreaming=true` DataFrame over pre-computed rows — the contract a
    * DSv1 streaming `Source.getBatch` must satisfy (batch-tagged frames are
    * rejected by the streaming planner). Same `internalCreateDataFrame`
    * every file-based Spark source uses.
    */
  def streamingDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = true)

  /** The inverse re-wrap for a streaming SINK: `Sink.addBatch` receives a
    * streaming-tagged DataFrame that refuses batch writes — rebuilding it
    * over the already-planned `InternalRow` RDD yields a plain batch frame
    * (the standard pre-DSv2 sink technique, e.g. Delta's v1 sink).
    */
  def batchDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[ClassicSparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming = false)

  /** Self-contained serializable Hadoop `Configuration` box (the write-kit
    * conf must travel to executors; Configuration itself is Writable but
    * not java-Serializable).
    */
  class ConfBox(@transient private var conf: org.apache.hadoop.conf.Configuration)
      extends Serializable {
    def value: org.apache.hadoop.conf.Configuration = conf
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject(); conf.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      conf = new org.apache.hadoop.conf.Configuration(false)
      conf.readFields(in)
    }
  }

  /** Driver-prepared parquet write kit for executor-side `DataWriter`s: the
    * stock `ParquetFileFormat.prepareWrite` factory (codegen'd
    * InternalRow→parquet write support, codec, schema conf) plus the job
    * Configuration it baked those settings into — `newInstance` on an
    * executor needs a TaskAttemptContext built over THAT conf, exactly how
    * `FileFormatWriter` ships its write description.
    */
  def parquetWriteKit(
      spark: org.apache.spark.sql.SparkSession,
      hadoopConf: org.apache.hadoop.conf.Configuration,
      dataSchema: org.apache.spark.sql.types.StructType)
    : (org.apache.spark.sql.execution.datasources.OutputWriterFactory, ConfBox) = {
    val job = org.apache.hadoop.mapreduce.Job.getInstance(hadoopConf)
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    val owf = fmt.prepareWrite(
      spark.asInstanceOf[ClassicSparkSession], job, Map.empty, dataSchema)
    (owf, new ConfBox(job.getConfiguration))
  }

  /** Spark's partition-directory escaping (`ExternalCatalogUtils
    * .escapePathName`) — the exact inverse of graft's `percentDecode`.
    */
  def escapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** Catalyst predicate → V1 `sources.Filter`, Spark's own pushdown
    * translation (`DataSourceStrategy.translateFilter` is protected[sql]).
    * None when the predicate has no V1 filter form.
    */
  def translateFilter(
      predicate: Expression): Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(predicate, supportNestedPredicatePushdown = true)

  /** The id of the streaming query executing on this thread (stable across
    * restarts from the same checkpoint — `StreamExecution` publishes it as a
    * spark-local property around each micro-batch), or None outside one.
    */
  def streamingQueryId(spark: org.apache.spark.sql.SparkSession): Option[String] =
    Option(spark.sparkContext.getLocalProperty(
      org.apache.spark.sql.execution.streaming.runtime.StreamExecution.QUERY_ID_KEY))
}
