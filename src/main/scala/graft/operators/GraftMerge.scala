package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.tables._

/** MERGE INTO for GraftTable — the engine behind dedup deletes, SCD2 upserts,
  * and insert-only appends (reference semantics: Delta `DeltaTable.merge`
  * with `whenMatched().updateExpr/delete`, `whenNotMatched().insertExpr/
  * insertAll` as used at `Type2Scd.scala:63-80`, `DeltaHelpers.scala:261-267,
  * 311-318,447-452`). Built from scratch on joins:
  *
  *  1. **Prune**: target-only conjuncts of the merge condition select
  *     candidate files via partition values + per-file min/max stats
  *     ([[FileSkipping]]) — no data read for excluded files.
  *  2. **Touch**: inner join candidates × source on the condition → the
  *     distinct set of files containing ≥1 matching row. Only these are
  *     rewritten; everything else is untouched (at 100 TB, rewrite cost is
  *     proportional to matched files, not table size).
  *  3. **Rewrite**: full-outer join of touched-file rows × source on the
  *     condition; per-row clause disposition with `when/otherwise` (codegen'd
  *     CASE, no UDFs); deletes drop, updates substitute, unmatched source
  *     inserts, unmatched target copies.
  *  4. **Commit**: new files + removes + MERGE metrics (+ CDC pre/post
  *     images when the table has CDF enabled).
  *
  * Join strategy is left to Catalyst/AQE — a small source broadcasts
  * automatically; skewed keys re-split under AQE skew-join handling.
  *
  * Null semantics match SQL MERGE: the condition uses plain `=` unless the
  * caller writes `<=>`, so NULL keys never match (SURVEY §2.1 nuance).
  */
object GraftMerge {
  def apply(table: GraftTable, targetAlias: String = "target"): Builder =
    new Builder(table, targetAlias)

  /** A clause condition or assignment value: SQL text (the Builder surface,
    * resolved by the analyzer against the merge's aliased frames), or a
    * RESOLVED expression that must bind plan-level because it carries
    * per-row subqueries text cannot round-trip — correlated scalars,
    * set-valued IN/EXISTS predicates ([[ExprFrag]] — the MERGE-side
    * sibling of TableOps' ExprCond seam).
    */
  sealed trait MergeFrag {
    /** The fragment bound over `df` — a frame carrying the merge's
      * target-aliased and/or source-aliased columns.
      */
    def column(df: DataFrame): Column
  }

  final case class TextFrag(sql: String) extends MergeFrag {
    def column(df: DataFrame): Column = expr(sql)
  }

  /** A resolved MERGE clause fragment with per-row subqueries (correlated
    * scalars, IN/EXISTS predicates): attribute references rebind by ORIGIN
    * (target attrs onto the frame's target-aliased side, source attrs onto
    * the source side), including the OuterReference wrappers inside
    * correlated subplans — Spark's own decorrelation then plans each
    * correlated subquery as an outer/semi/anti join over the evaluation
    * frame, and plans set-valued predicates in the Project frames the
    * clauses evaluate in. Delta refuses subqueries in these positions
    * outright.
    *
    * Same two-job stability discipline as TableOps.ExprCond: each
    * NON-correlated subquery is materialized exactly once
    * (localCheckpoint); a correlated one stays a live plan with its graft
    * sources pinned to statement-start snapshots
    * ([[graft.sources.GraftSourcePin]]) — the clause dispositions and the
    * output projection run in separate jobs, and both must see ONE
    * subquery state.
    */
  final class ExprFrag(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      tgt: Seq[org.apache.spark.sql.catalyst.expressions.Attribute], tgtAlias: String,
      src: Seq[org.apache.spark.sql.catalyst.expressions.Attribute], srcAlias: String)
    extends MergeFrag {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, OuterReference, SubqueryExpression}
    import org.apache.spark.sql.graft.SparkBridge

    private val sideById: Map[org.apache.spark.sql.catalyst.expressions.ExprId, (String, String)] =
      tgt.map(a => a.exprId -> (tgtAlias, a.name)).toMap ++
        src.map(a => a.exprId -> (srcAlias, a.name)).toMap

    @volatile private var stable: org.apache.spark.sql.catalyst.expressions.Expression = null
    private def stableExpr(spark: SparkSession)
      : org.apache.spark.sql.catalyst.expressions.Expression = {
      val s0 = stable
      if (s0 != null) s0
      else {
        // the shared DML stability discipline (one definition — see
        // GraftSourcePin.pinSubqueries)
        val pinned = graft.sources.GraftSourcePin.pinSubqueries(spark, e)
        stable = pinned
        pinned
      }
    }

    def column(df: DataFrame): Column = {
      val out = df.queryExecution.analyzed.output
      def rebound(a: AttributeReference): Attribute = {
        val (alias, name) = sideById(a.exprId)
        out.find(o => o.name == name && o.qualifier.lastOption.contains(alias))
          .orElse(out.filter(_.name == name) match {
            case scala.collection.Seq(only) => Some(only)
            case _ => None
          })
          .getOrElse(throw new IllegalStateException(
            s"MERGE clause column '$alias.$name' not found in the evaluation " +
              s"frame (${out.map(o => (o.qualifier :+ o.name).mkString(".")).mkString(", ")})"))
      }
      SparkBridge.column(stableExpr(df.sparkSession).transform {
        case sub: SubqueryExpression if sub.isCorrelated =>
          sub.withNewPlan(sub.plan.transformAllExpressions {
            case OuterReference(a: AttributeReference) if sideById.contains(a.exprId) =>
              OuterReference(rebound(a))
          })
        case a: AttributeReference if sideById.contains(a.exprId) => rebound(a)
      })
    }
  }

  sealed trait MatchedAction
  case class UpdateExpr(set: Map[String, MergeFrag]) extends MatchedAction
  case object UpdateAll extends MatchedAction
  case object DeleteAction extends MatchedAction
  sealed trait NotMatchedAction
  case class InsertExpr(values: Map[String, MergeFrag]) extends NotMatchedAction
  case object InsertAll extends NotMatchedAction

  case class MatchedClause(condition: Option[MergeFrag], action: MatchedAction)
  case class NotMatchedClause(condition: Option[MergeFrag], action: NotMatchedAction)
  /** `WHEN NOT MATCHED BY SOURCE` (Delta 2.3 shape): acts on TARGET rows no
    * source row matched — update (conditions/sets reference target columns
    * only; the source side is all-null there) or delete. The classic use is
    * sync-deletes: rows absent from the source leave the table.
    */
  case class NotMatchedBySourceClause(condition: Option[MergeFrag], action: MatchedAction) {
    require(action != UpdateAll,
      "NOT MATCHED BY SOURCE has no source row to UPDATE SET * from")
  }

  class Builder(table: GraftTable, targetAlias: String) {
    private var source: DataFrame = _
    private var sourceAlias: Option[String] = None
    private var condition: String = _
    private var evolveSchema: Boolean = false
    private val matched = scala.collection.mutable.ArrayBuffer.empty[MatchedClause]
    private val notMatched = scala.collection.mutable.ArrayBuffer.empty[NotMatchedClause]
    private val bySource = scala.collection.mutable.ArrayBuffer.empty[NotMatchedBySourceClause]

    def merge(source: DataFrame, condition: String, sourceAlias: Option[String] = None): Builder = {
      this.source = source; this.condition = condition; this.sourceAlias = sourceAlias; this
    }
    /** Delta's `withSchemaEvolution()`: source columns absent from the
      * target are ADDED to the table schema by the merge commit — updated/
      * inserted rows carry their source values, copied rows and pre-images
      * read as typed NULL (old files are never rewritten just to add the
      * column). Same-name columns must keep their type ([[TableWriter
      * .mergeSchemas]] rejects a mismatch before anything is written).
      */
    def withSchemaEvolution(): Builder = { evolveSchema = true; this }
    def whenMatchedUpdateExpr(set: Map[String, String], condition: Option[String] = None): Builder =
      whenMatchedUpdateF(set.map { case (k, v) => k -> (TextFrag(v): MergeFrag) },
        condition.map(TextFrag.apply))
    def whenMatchedUpdateAll(condition: Option[String] = None): Builder = {
      matched += MatchedClause(condition.map(TextFrag.apply), UpdateAll); this
    }
    def whenMatchedDelete(condition: Option[String] = None): Builder = {
      matched += MatchedClause(condition.map(TextFrag.apply), DeleteAction); this
    }
    def whenNotMatchedInsertExpr(values: Map[String, String], condition: Option[String] = None): Builder =
      whenNotMatchedInsertF(values.map { case (k, v) => k -> (TextFrag(v): MergeFrag) },
        condition.map(TextFrag.apply))
    def whenNotMatchedInsertAll(condition: Option[String] = None): Builder = {
      notMatched += NotMatchedClause(condition.map(TextFrag.apply), InsertAll); this
    }
    def whenNotMatchedBySourceUpdateExpr(
        set: Map[String, String], condition: Option[String] = None): Builder =
      whenNotMatchedBySourceUpdateF(
        set.map { case (k, v) => k -> (TextFrag(v): MergeFrag) },
        condition.map(TextFrag.apply))
    def whenNotMatchedBySourceDelete(condition: Option[String] = None): Builder = {
      bySource += NotMatchedBySourceClause(condition.map(TextFrag.apply), DeleteAction); this
    }

    // ---- fragment-level clause entries (the SQL rewrite path: clause
    // conditions/values may carry per-row correlated scalar subqueries
    // that bind plan-level — see [[ExprFrag]]) -----------------------------
    private[graft] def whenMatchedUpdateF(
        set: Map[String, MergeFrag], condition: Option[MergeFrag]): Builder = {
      matched += MatchedClause(condition, UpdateExpr(set)); this
    }
    private[graft] def whenMatchedUpdateAllF(condition: Option[MergeFrag]): Builder = {
      matched += MatchedClause(condition, UpdateAll); this
    }
    private[graft] def whenMatchedDeleteF(condition: Option[MergeFrag]): Builder = {
      matched += MatchedClause(condition, DeleteAction); this
    }
    private[graft] def whenNotMatchedInsertF(
        values: Map[String, MergeFrag], condition: Option[MergeFrag]): Builder = {
      notMatched += NotMatchedClause(condition, InsertExpr(values)); this
    }
    private[graft] def whenNotMatchedInsertAllF(condition: Option[MergeFrag]): Builder = {
      notMatched += NotMatchedClause(condition, InsertAll); this
    }
    private[graft] def whenNotMatchedBySourceUpdateF(
        set: Map[String, MergeFrag], condition: Option[MergeFrag]): Builder = {
      bySource += NotMatchedBySourceClause(condition, UpdateExpr(set)); this
    }
    private[graft] def whenNotMatchedBySourceDeleteF(condition: Option[MergeFrag]): Builder = {
      bySource += NotMatchedBySourceClause(condition, DeleteAction); this
    }

    def execute(): Long =
      GraftMerge.execute(table, targetAlias, source, sourceAlias, condition,
        matched.toSeq, notMatched.toSeq, evolveSchema, bySource.toSeq)
  }

  private val ActionCol = "__graft_action"
  private val FileCol = "__graft_file"
  private val TgtExists = "__graft_tgt"
  private val SrcExists = "__graft_src"
  private val SrcIdCol = "__graft_srcid"
  private val Copy = 0
  private val Drop = -1
  private def matchedCode(i: Int) = 100 + i
  private def insertCode(i: Int) = 200 + i
  private def bySourceCode(i: Int) = 300 + i

  def execute(
      table: GraftTable,
      targetAlias: String,
      source: DataFrame,
      sourceAlias: Option[String],
      condition: String,
      matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedClause],
      evolveSchema: Boolean = false,
      bySource: Seq[NotMatchedBySourceClause] = Nil): Long = {
    val spark = table.spark
    val t0 = System.currentTimeMillis()
    // head past the driver-file limit: candidate selection runs executor-
    // side (TableOps.dmlCandidates) and everything else the merge reads is
    // metadata-plane; by-source merges (below) still need the full file
    // list — every file is a rewrite candidate by construction
    val (snap, lazyHead) = TableOps.dmlSnap(table)
    val targetCols = snap.schema.fieldNames.toSeq
    // schema evolution: the OUTPUT schema appends source-only columns to the
    // target's (type conflicts rejected up front); without the flag the
    // output schema IS the target schema and extra source columns are
    // simply never selected
    val outFields: Seq[org.apache.spark.sql.types.StructField] =
      if (evolveSchema) TableWriter.mergeSchemas(snap.schema, source.schema).fields.toSeq
      else snap.schema.fields.toSeq

    // --- 0. assignment-key normalization ---------------------------------
    // UPDATE SET / INSERT keys may be target-alias-qualified (`t.name = ...`
    // — Delta accepts this, and the SQL surface naturally produces it). The
    // projection matches keys against bare column names, so strip the alias
    // here; a key that still resolves to NO output column is a loud error —
    // the previous behavior (silently keeping the old value while REPORTING
    // the row updated) corrupted the operation's contract.
    val outNames = outFields.map(_.name)
    // the session resolver, not equalsIgnoreCase: under caseSensitive=true a
    // case-insensitive match could mis-strip an alias prefix or accept a key
    // against a column differing only by case, then silently miss in the
    // downstream name-keyed projection (same fix as the scan-rewrite rules)
    val resolver = spark.sessionState.conf.resolver
    def normalizeSet(set: Map[String, MergeFrag], what: String): Map[String, MergeFrag] =
      set.map { case (k, v) =>
        val bare =
          if (k.length > targetAlias.length + 1 &&
              k.charAt(targetAlias.length) == '.' &&
              resolver(k.substring(0, targetAlias.length), targetAlias))
            k.substring(targetAlias.length + 1)
          else k
        require(outNames.exists(resolver(_, bare)),
          s"$what column '$k' does not resolve to a column of the merge output " +
            s"(have: ${outNames.mkString(", ")})")
        bare -> v
      }
    def normMatched(a: MatchedAction, what: String): MatchedAction = a match {
      case UpdateExpr(set) => UpdateExpr(normalizeSet(set, what))
      case other           => other
    }
    val matchedN = matched.map(c => c.copy(action = normMatched(c.action, "UPDATE SET")))
    val bySourceN = bySource.map(c => c.copy(action = normMatched(c.action, "UPDATE SET")))
    val notMatchedN = notMatched.map(c => c.copy(action = c.action match {
      case InsertExpr(vs) => InsertExpr(normalizeSet(vs, "INSERT"))
      case other          => other
    }))

    // --- 1. candidate-file pruning on target-only conjuncts ---------------
    val classified = FileSkipping.classify(spark, table.toDF.alias(targetAlias), condition)
    val targetOnly = classified.all.filter { c =>
      c.references.nonEmpty &&
      c.references.forall(r => targetCols.exists(_.equalsIgnoreCase(stripAlias(r.name))))
    }

    // --- 1b. DYNAMIC file pruning from source join-key ranges -------------
    // For equi-conjuncts `target.k = source.k`, one tiny agg over the source
    // yields [min(k), max(k)]; candidate files outside that range can never
    // contain a matched row (NULL keys never match under `=`), so at scale a
    // narrow source touches a handful of files instead of the whole table.
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo => CatEqualTo, GreaterThanOrEqual => CatGte, LessThanOrEqual => CatLte, Literal => CatLiteral}
    val equiKeys: Seq[(AttributeReference, String)] = classified.partiallyResolved.collect {
      case CatEqualTo(a: AttributeReference, u: UnresolvedAttribute) => (a, u.nameParts.last)
      case CatEqualTo(u: UnresolvedAttribute, a: AttributeReference) => (a, u.nameParts.last)
    }.filter { case (a, srcName) =>
      targetCols.exists(_.equalsIgnoreCase(a.name)) &&
        source.columns.exists(_.equalsIgnoreCase(srcName))
    }
    val dynamicPreds: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
      if (equiKeys.isEmpty) Nil
      else {
        val aggs = equiKeys.flatMap { case (_, s) => Seq(min(col(s)), max(col(s))) }
        val row = source.agg(aggs.head, aggs.tail: _*).collect()(0)
        equiKeys.zipWithIndex.flatMap { case ((attr, _), i) =>
          if (row.isNullAt(2 * i)) Nil // all-null or empty source: no bound
          else Seq(
            CatGte(attr, CatLiteral.create(row.get(2 * i), attr.dataType)),
            CatLte(attr, CatLiteral.create(row.get(2 * i + 1), attr.dataType)))
        }
      }

    // NOT MATCHED BY SOURCE inverts the pruning logic: the affected rows
    // are exactly the ones the merge condition does NOT select, so
    // condition-derived file skipping would hide them — every file is a
    // candidate (Delta's by-source merges scan the full table likewise)
    val candidates =
      if (bySourceN.nonEmpty) {
        lazyHead match {
          case Some(head) => graft.tables.DistributedSnapshot.prunedFilesByExprs(
            spark, table.log, head, Nil) // full set — inherent to by-source
          case None => snap.files
        }
      }
      else TableOps.dmlCandidates(table, snap, lazyHead, targetOnly ++ dynamicPreds)
    val scanTime = System.currentTimeMillis() - t0

    // source is always aliased so UpdateAll/InsertAll can reference its side
    // of the join unambiguously; user conditions with unqualified source
    // column names still resolve (an alias hides nothing). Persisted because
    // it feeds three consumers (touch-detection join, rewrite join, source
    // count) — recomputing a shuffled source plan thrice is the single
    // biggest overhead in merge-based dedup.
    val sourceCached = source.persist(StorageLevel.MEMORY_AND_DISK)
    val srcAliasName = sourceAlias.getOrElse("__graft_src")
    // SrcIdCol: a unique id per source row so numSourceRows falls out of the
    // main merge aggregate (countDistinct) instead of a separate count job
    val srcDf = sourceCached.withColumn(SrcExists, lit(true))
      .withColumn(SrcIdCol, monotonically_increasing_id()).alias(srcAliasName)
    val sourceColsRenamed = source.columns.toSeq

    // --- insert-only fast path --------------------------------------------
    // Without matched clauses no target row can change: anti-join the source
    // against the candidate scan and append just the insert rows — no touch
    // detection, no file rewrite, no removes (the dominant cost of an
    // appendWithoutDuplicates-style merge on a large table).
    if (matchedN.isEmpty && bySourceN.isEmpty) {
      val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
      try {
        val tgtScanAll = table.dfForFiles(snap, candidates).alias(targetAlias)
        val unmatchedSrc = srcDf.join(tgtScanAll, expr(condition), "left_anti")
        var action: Column = lit(Drop)
        notMatchedN.zipWithIndex.reverse.foreach { case (cl, i) =>
          action = when(cl.condition.map(_.column(unmatchedSrc)).getOrElse(lit(true)),
              insertCode(i))
            .otherwise(action)
        }
        val withAction = unmatchedSrc.withColumn(ActionCol, action)
          .where(col(ActionCol) =!= Drop)
          .localCheckpoint(false)
        val nIns = withAction.count()
        val numSourceRows = sourceCached.count()
        val insCols = outFields.map(f =>
          insertColumn(f.name, srcAliasName, notMatchedN, sourceColsRenamed, withAction)
            .cast(f.dataType).as(f.name))
        val newData = withAction.select(insCols: _*)
        val cdc = if (snap.cdfEnabled && nIns > 0)
          Some(newData.withColumn("_change_type", lit("insert")))
        else None
        val metrics = Map(
          "numTargetRowsCopied" -> "0",
          "numTargetRowsDeleted" -> "0",
          "numTargetRowsInserted" -> nIns.toString,
          "numTargetRowsUpdated" -> "0",
          "numOutputRows" -> nIns.toString,
          "numSourceRows" -> numSourceRows.toString,
          "numTargetFilesRemoved" -> "0",
          "executionTimeMs" -> (System.currentTimeMillis() - t0).toString,
          "scanTimeMs" -> scanTime.toString,
          "rewriteTimeMs" -> (System.currentTimeMillis() - t0 - scanTime).toString)
        return TableWriter.write(
          spark, table.path, newData, TableWriter.Append,
          operation = "MERGE",
          operationParameters = Map("predicate" -> s"[${condition}]"),
          extraMetrics = metrics,
          cdc = cdc,
          // the insert decisions were made by anti-joining the candidate
          // files — a winner rewriting one of them invalidates those
          // decisions, so the read footprint makes this NOT a blind append
          readFiles = candidates.map(_.path),
          readVersion = Some(snap.version),
          skipDataWrite = nIns == 0)
      } finally {
        sourceCached.unpersist()
        freeNewBlocks(spark, persistedBefore)
      }
    }

    // --- 2+3. fused touch-detection + rewrite join -------------------------
    // ONE full-outer join over all candidate rows (each carrying its file
    // name) replaces the former inner "touch" join plus second full-outer
    // over touched files: candidates are scanned once; the multi-match guard,
    // source-row count and merge metrics fall out of a single aggregate over
    // the checkpointed join, and the touched-file set out of a cheap
    // distinct-collect over the same cached blocks.
    // localCheckpoint (not persist): the joined frame feeds several jobs and
    // carries synthetic row ids — a lost-and-recomputed cache partition would
    // reassign ids between jobs, so lineage is cut: a lost partition fails
    // the merge instead of silently corrupting it. Blocks are freed
    // explicitly in the finally (checkpointed RDDs otherwise linger until
    // driver GC).
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val candRows = table.dfForFiles(snap, candidates)
      .withColumn(FileCol, input_file_name())
      .withColumn(TgtExists, monotonically_increasing_id())
      .alias(targetAlias)
    val joinedBase = candRows.join(srcDf, expr(condition), "full_outer")
    val joined = joinedBase
      .withColumn(ActionCol, actionExpr(matchedN, notMatchedN, bySourceN, joinedBase))
      .localCheckpoint(false)

    try {
      // --- metrics from disposition counts (single pass over cached join) --
      val matchedCodes = matchedN.indices.map(matchedCode)
      // by-source updates/deletes count and behave like their matched
      // counterparts everywhere downstream (metrics, keep-filter, CDC)
      val updateCodes = matchedN.zipWithIndex.collect {
        case (MatchedClause(_, UpdateExpr(_) | UpdateAll), i) => matchedCode(i)
      } ++ bySourceN.zipWithIndex.collect {
        case (NotMatchedBySourceClause(_, UpdateExpr(_)), i) => bySourceCode(i)
      }
      val deleteCodes = matchedN.zipWithIndex.collect {
        case (MatchedClause(_, DeleteAction), i) => matchedCode(i)
      } ++ bySourceN.zipWithIndex.collect {
        case (NotMatchedBySourceClause(_, DeleteAction), i) => bySourceCode(i)
      }
      val insertCodes = notMatchedN.indices.map(insertCode)
      val bySourceCodes = bySourceN.indices.map(bySourceCode)
      def inCodes(codes: Seq[Int]): Column =
        if (codes.isEmpty) lit(false)
        else col(ActionCol).isin(codes.map(Integer.valueOf): _*)
      def countWhere(codes: Seq[Int]): Column =
        sum(when(inCodes(codes), 1L).otherwise(0L))
      val isPair = col(TgtExists).isNotNull && col(SrcExists).isNotNull
      val m = joined.agg(
        countWhere(updateCodes).as("upd"),
        countDistinct(when(inCodes(deleteCodes), col(TgtExists))).as("del"),
        countWhere(insertCodes).as("ins"),
        count(when(isPair, 1)).as("mpairs"),
        countDistinct(when(isPair, col(TgtExists))).as("mrows"),
        countDistinct(col(SrcIdCol)).as("nsrc")
      ).collect()(0)
      def g(i: Int): Long = if (m.isNullAt(i)) 0L else m.getLong(i)
      val (nUpd, nDel, nIns) = (g(0), g(1), g(2))
      // SQL MERGE semantics (and Delta's rule): multiple source matches for
      // one target row are permitted ONLY when the sole matched clause is an
      // unconditional delete (all matches agree); anything else — update
      // clauses or conditional deletes — is nondeterministic, so fail loudly.
      val multiMatchOk = matchedN == Seq(MatchedClause(None, DeleteAction))
      if (!multiMatchOk && g(3) != g(4))
        throw new IllegalStateException(
          s"MERGE aborted: ${g(3) - g(4)} target row(s) matched by multiple source rows; " +
            "deduplicate the source on the merge key first")
      val numSourceRows = g(5)

      // touched files: the distinct file names seen on matched pairs, decoded
      // once and resolved against the candidate list (O(uris), not O(uris ×
      // candidates)). A distinct-collect over the checkpointed join, not a
      // collect_set in the metrics aggregate: partial distinct runs map-side
      // and the driver receives one row per file name, so a 100k-file merge
      // never funnels every URI through a single aggregation buffer.
      val touchedUris: Set[String] =
        joined.where(isPair || inCodes(bySourceCodes)).select(col(FileCol)).distinct()
          .collect().iterator.map(_.getString(0)).toSet
      val touched = TableWriter.resolveTouched(touchedUris, candidates)

      // numTargetRowsCopied without another distinct-aggregate pass: every
      // row of a touched file is either updated, deleted, or copied, and the
      // per-file row counts are already in the log's footer stats
      val statRecords = touched.map(f => GraftLog.parseStats(f.stats).map(_.numRecords))
      lazy val touchedNameDf = spark
        .createDataset(touchedUris.toSeq)(org.apache.spark.sql.Encoders.STRING)
        .toDF("__graft_touched_uri")
      lazy val touchedData = joined.join(broadcast(touchedNameDf),
        col(FileCol) === col("__graft_touched_uri"), "left_semi")
      val nCopied: Long =
        if (statRecords.forall(_.isDefined)) statRecords.flatten.sum - nDel - nUpd
        else { // files written without stats (foreign writer): count directly
          val r = touchedData
            .agg(countDistinct(when(col(ActionCol) === Copy, col(TgtExists)))).collect()(0)
          if (r.isNullAt(0)) 0L else r.getLong(0)
        }

      // --- output rows -----------------------------------------------------
      // Rewritten target rows come only from touched files (Copy rows in
      // untouched files stay in place). Source-only inserts pass through from
      // the full join. Kept rows need NO dedup shuffle: the multi-match guard
      // above admits duplicate join pairs only when the sole matched clause is
      // an unconditional delete, and in that case every duplicated target row
      // carries a delete code and is filtered here — so each surviving row's
      // TgtExists id appears exactly once in every reachable configuration.
      val outCols = outFields.map { f =>
        val base = targetValue(f, targetCols, targetAlias)
        outputColumn(f.name, base, srcAliasName, matchedN, notMatchedN, sourceColsRenamed,
            bySourceN, joined)
          .cast(f.dataType).as(f.name)
      }
      val targetKeep = touchedData
        .where(col(TgtExists).isNotNull && col(ActionCol) =!= Drop && !inCodes(deleteCodes))
        .select(outCols: _*)
      val inserts = joined.where(col(TgtExists).isNull && inCodes(insertCodes))
        .select(outCols: _*)
      val newData = targetKeep.unionByName(inserts)

      // --- CDC -------------------------------------------------------------
      val cdc: Option[DataFrame] = if (snap.cdfEnabled) {
        val tCols = outFields.map(f =>
          targetValue(f, targetCols, targetAlias).cast(f.dataType).as(f.name))
        val deletes = joined.where(inCodes(deleteCodes)).dropDuplicates(TgtExists)
          .select(tCols :+ lit("delete").as("_change_type"): _*)
        val updPre = joined.where(inCodes(updateCodes))
          .select(tCols :+ lit("update_preimage").as("_change_type"): _*)
        val updPost = joined.where(inCodes(updateCodes))
          .select(outCols :+ lit("update_postimage").as("_change_type"): _*)
        val ins = joined.where(inCodes(insertCodes))
          .select(outCols :+ lit("insert").as("_change_type"): _*)
        Some(deletes.union(updPre).union(updPost).union(ins))
      } else None

      // --- commit ----------------------------------------------------------
      val noChange = touched.isEmpty && nIns == 0
      val metrics = Map(
        "numTargetRowsCopied" -> nCopied.toString,
        "numTargetRowsDeleted" -> nDel.toString,
        "numTargetRowsInserted" -> nIns.toString,
        "numTargetRowsUpdated" -> nUpd.toString,
        "numOutputRows" -> (nCopied + nUpd + nIns).toString,
        "numSourceRows" -> numSourceRows.toString,
        "numTargetFilesRemoved" -> touched.size.toString,
        "executionTimeMs" -> (System.currentTimeMillis() - t0).toString,
        "scanTimeMs" -> scanTime.toString,
        "rewriteTimeMs" -> (System.currentTimeMillis() - t0 - scanTime).toString
      )
      TableWriter.write(
        spark, table.path, newData,
        TableWriter.Append,
        operation = "MERGE",
        operationParameters = Map("predicate" -> s"[${condition}]"),
        extraMetrics = metrics + ("numTargetFilesAdded" -> "0"),
        cdc = cdc,
        removeFiles = touched.map(_.path),
        // read footprint: every candidate file (superset of touched) — a
        // winner removing a candidate may change which rows match
        readFiles = candidates.map(_.path),
        readVersion = Some(snap.version),
        skipDataWrite = noChange
      )
    } finally {
      sourceCached.unpersist()
      freeNewBlocks(spark, persistedBefore)
    }
  }

  /** Unpersist RDDs registered after `before` — deterministic cleanup of
    * localCheckpoint blocks (the Dataset API offers no direct handle).
    */
  private def freeNewBlocks(spark: SparkSession, before: scala.collection.Set[Int]): Unit = {
    val rdds = spark.sparkContext.getPersistentRDDs
    (rdds.keySet -- before).foreach(id => rdds.get(id).foreach(_.unpersist(blocking = false)))
  }

  /** First-matching-clause disposition as a nested CASE expression over
    * `frame` (the pre-checkpoint join — clause conditions carrying
    * correlated scalar subqueries bind onto its attributes and decorrelate
    * there, so the checkpoint materializes each disposition exactly once).
    */
  private def actionExpr(
      matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedClause],
      bySource: Seq[NotMatchedBySourceClause],
      frame: DataFrame): Column = {
    val isMatched = col(TgtExists).isNotNull && col(SrcExists).isNotNull
    val isSrcOnly = col(TgtExists).isNull && col(SrcExists).isNotNull
    val isTgtOnly = col(TgtExists).isNotNull && col(SrcExists).isNull
    var c: Column = lit(Copy)
    // build in reverse so earlier clauses take precedence; the three row
    // populations (pair / source-only / target-only) are disjoint
    c = notMatched.zipWithIndex.reverse.foldLeft(when(isSrcOnly, Drop).otherwise(c)) {
      case (acc, (cl, i)) =>
        val cond = isSrcOnly && cl.condition.map(_.column(frame)).getOrElse(lit(true))
        when(cond, insertCode(i)).otherwise(acc)
    }
    c = matched.zipWithIndex.reverse.foldLeft(c) { case (acc, (cl, i)) =>
      val cond = isMatched && cl.condition.map(_.column(frame)).getOrElse(lit(true))
      when(cond, matchedCode(i)).otherwise(acc)
    }
    c = bySource.zipWithIndex.reverse.foldLeft(c) { case (acc, (cl, i)) =>
      val cond = isTgtOnly && cl.condition.map(_.column(frame)).getOrElse(lit(true))
      when(cond, bySourceCode(i)).otherwise(acc)
    }
    c
  }

  /** The target-side value of output field `f`: the target column when the
    * table has it, typed NULL when `f` exists only through schema evolution
    * (copied rows and pre-images have no source value to take).
    */
  private def targetValue(
      f: org.apache.spark.sql.types.StructField,
      targetCols: Seq[String],
      targetAlias: String): Column =
    if (targetCols.exists(_.equalsIgnoreCase(f.name))) col(s"$targetAlias.${f.name}")
    else lit(null).cast(f.dataType)

  /** Output value of column `c` as a CASE over the disposition; `base` is
    * the target-side value ([[targetValue]]).
    */
  private def outputColumn(
      c: String,
      base: Column,
      srcAlias: String,
      matched: Seq[MatchedClause],
      notMatched: Seq[NotMatchedClause],
      sourceCols: Seq[String],
      bySource: Seq[NotMatchedBySourceClause],
      frame: DataFrame): Column = {
    def sourceValue(action: Any): Column = action match {
      case UpdateExpr(set) =>
        set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v.column(frame) }
          .getOrElse(base)
      case UpdateAll =>
        if (sourceCols.exists(_.equalsIgnoreCase(c))) col(s"$srcAlias.$c")
        else base
      case InsertExpr(values) =>
        values.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v.column(frame) }
          .getOrElse(lit(null))
      case InsertAll =>
        if (sourceCols.exists(_.equalsIgnoreCase(c))) col(s"$srcAlias.$c") else lit(null)
      case _ => base
    }
    var out: Column = base
    matched.zipWithIndex.foreach { case (cl, i) =>
      cl.action match {
        case DeleteAction => ()
        case a => out = when(col(ActionCol) === matchedCode(i), sourceValue(a)).otherwise(out)
      }
    }
    notMatched.zipWithIndex.foreach { case (cl, i) =>
      out = when(col(ActionCol) === insertCode(i), sourceValue(cl.action)).otherwise(out)
    }
    bySource.zipWithIndex.foreach { case (cl, i) =>
      cl.action match {
        case UpdateExpr(set) =>
          val v = set.collectFirst { case (k, e) if k.equalsIgnoreCase(c) => e.column(frame) }
            .getOrElse(base)
          out = when(col(ActionCol) === bySourceCode(i), v).otherwise(out)
        case _ => () // delete rows never reach the output projection
      }
    }
    out
  }

  /** Insert-row value of column `c` for the insert-only fast path (only
    * notMatched clauses; no target side exists).
    */
  private def insertColumn(
      c: String,
      srcAlias: String,
      notMatched: Seq[NotMatchedClause],
      sourceCols: Seq[String],
      frame: DataFrame): Column = {
    def valueOf(action: NotMatchedAction): Column = action match {
      case InsertExpr(values) =>
        values.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v.column(frame) }
          .getOrElse(lit(null))
      case InsertAll =>
        if (sourceCols.exists(_.equalsIgnoreCase(c))) col(s"$srcAlias.$c") else lit(null)
    }
    var out: Column = lit(null)
    notMatched.zipWithIndex.foreach { case (cl, i) =>
      out = when(col(ActionCol) === insertCode(i), valueOf(cl.action)).otherwise(out)
    }
    out
  }

  private def stripAlias(name: String): String =
    name.split('.').last
}
