package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tables._

/** MERGE INTO for GraftTable — the engine behind dedup deletes, SCD2 upserts,
  * and insert-only appends (reference semantics: Delta `DeltaTable.merge`
  * with `whenMatched().updateExpr/delete`, `whenNotMatched().insertExpr/
  * insertAll` as used at `Type2Scd.scala:63-80`, `DeltaHelpers.scala:261-267,
  * 311-318,447-452`). Built from scratch on joins:
  *
  *  1. **Prune**: target-only conjuncts of the merge condition select
  *     candidate files via partition values + per-file min/max stats
  *     ([[FileSkipping]]), narrowed further by the source's key range
  *     (one pass over the checkpointed source, which also counts its rows)
  *     — no data read for excluded files.
  *  2. **Match**: candidate rows, each carrying its file and row position,
  *     join the source (inner, or left outer for NOT MATCHED BY SOURCE —
  *     the target stays on the streamed side, so a small source
  *     broadcasts). Per-row clause disposition is a codegen'd CASE. Only
  *     CHANGED target rows are kept: matched pairs and target rows a
  *     by-source clause changes; copied rows never enter the checkpoint.
  *  3. **Mask**: one aggregate over the changed target rows yields the
  *     metrics, the multi-match guard and the touched files — those
  *     holding an updated or deleted row. At 100 TB, rewrite cost is
  *     proportional to the files holding changed rows, not to table size.
  *     Unmatched source rows (the inserts) are the source anti-joined on
  *     the matched source row ids.
  *  4. **Rewrite**: each touched file is rescanned in its own task(s), its
  *     existing deletion vectors applied and its updated/deleted positions
  *     masked by an anti-join, so every output file holds one input
  *     split's survivors in their original order — the table keeps its key
  *     clustering and later file skipping still prunes. While the mask
  *     fits the broadcast threshold it is broadcast and copied rows never
  *     cross an exchange. Updated and inserted rows go to new file(s) of
  *     their own.
  *  5. **Commit**: new files + removes + MERGE metrics (+ CDC pre/post
  *     images when the table has CDF enabled).
  *
  * Skewed keys in a large source re-split under AQE skew-join handling.
  *
  * Null semantics match SQL MERGE: the condition uses plain `=` unless the
  * caller writes `<=>`, so NULL keys never match (SURVEY §2.1 nuance).
  */
object GraftMerge {
  def apply(table: GraftTable, targetAlias: String = "target"): Builder =
    new Builder(table, targetAlias)

  sealed trait MatchedAction
  case class UpdateExpr(set: Map[String, BoundExpr]) extends MatchedAction
  case object UpdateAll extends MatchedAction
  case object DeleteAction extends MatchedAction
  sealed trait NotMatchedAction
  case class InsertExpr(values: Map[String, BoundExpr]) extends NotMatchedAction
  case object InsertAll extends NotMatchedAction

  case class MatchedClause(condition: Option[BoundExpr], action: MatchedAction)
  case class NotMatchedClause(condition: Option[BoundExpr], action: NotMatchedAction)
  /** `WHEN NOT MATCHED BY SOURCE` (Delta 2.3 shape): acts on TARGET rows no
    * source row matched — update (conditions/sets reference target columns
    * only; the source side is all-null there) or delete. The classic use is
    * sync-deletes: rows absent from the source leave the table.
    */
  case class NotMatchedBySourceClause(condition: Option[BoundExpr], action: MatchedAction) {
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
      whenMatchedUpdateF(set.map { case (k, v) => k -> BoundExpr.Text(v) },
        condition.map(BoundExpr.Text.apply))
    def whenMatchedUpdateAll(condition: Option[String] = None): Builder = {
      matched += MatchedClause(condition.map(BoundExpr.Text.apply), UpdateAll); this
    }
    def whenMatchedDelete(condition: Option[String] = None): Builder = {
      matched += MatchedClause(condition.map(BoundExpr.Text.apply), DeleteAction); this
    }
    def whenNotMatchedInsertExpr(values: Map[String, String], condition: Option[String] = None): Builder =
      whenNotMatchedInsertF(values.map { case (k, v) => k -> BoundExpr.Text(v) },
        condition.map(BoundExpr.Text.apply))
    def whenNotMatchedInsertAll(condition: Option[String] = None): Builder = {
      notMatched += NotMatchedClause(condition.map(BoundExpr.Text.apply), InsertAll); this
    }
    def whenNotMatchedBySourceUpdateExpr(
        set: Map[String, String], condition: Option[String] = None): Builder =
      whenNotMatchedBySourceUpdateF(
        set.map { case (k, v) => k -> BoundExpr.Text(v) },
        condition.map(BoundExpr.Text.apply))
    def whenNotMatchedBySourceDelete(condition: Option[String] = None): Builder = {
      bySource += NotMatchedBySourceClause(condition.map(BoundExpr.Text.apply), DeleteAction); this
    }

    // ---- fragment-level clause entries (the SQL rewrite path: clause
    // conditions/values may carry per-row correlated scalar subqueries
    // that bind plan-level — see [[BoundExpr.Resolved]]) ------------------
    private[graft] def whenMatchedUpdateF(
        set: Map[String, BoundExpr], condition: Option[BoundExpr]): Builder = {
      matched += MatchedClause(condition, UpdateExpr(set)); this
    }
    private[graft] def whenMatchedUpdateAllF(condition: Option[BoundExpr]): Builder = {
      matched += MatchedClause(condition, UpdateAll); this
    }
    private[graft] def whenMatchedDeleteF(condition: Option[BoundExpr]): Builder = {
      matched += MatchedClause(condition, DeleteAction); this
    }
    private[graft] def whenNotMatchedInsertF(
        values: Map[String, BoundExpr], condition: Option[BoundExpr]): Builder = {
      notMatched += NotMatchedClause(condition, InsertExpr(values)); this
    }
    private[graft] def whenNotMatchedInsertAllF(condition: Option[BoundExpr]): Builder = {
      notMatched += NotMatchedClause(condition, InsertAll); this
    }
    private[graft] def whenNotMatchedBySourceUpdateF(
        set: Map[String, BoundExpr], condition: Option[BoundExpr]): Builder = {
      bySource += NotMatchedBySourceClause(condition, UpdateExpr(set)); this
    }
    private[graft] def whenNotMatchedBySourceDeleteF(condition: Option[BoundExpr]): Builder = {
      bySource += NotMatchedBySourceClause(condition, DeleteAction); this
    }

    def execute(): Long =
      GraftMerge.execute(table, targetAlias, source, sourceAlias, condition,
        matched.toSeq, notMatched.toSeq, evolveSchema, bySource.toSeq)
  }

  private val ActionCol = "__graft_action"
  private val FileCol = "__graft_file"
  private val PosCol = "__graft_pos"
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
    // the merge's one resolution of the target — planning, skipping and
    // the commit all read it. Head past the driver-file limit: candidate
    // selection runs executor-side (TableOps.dmlCandidates) and everything
    // else the merge reads is metadata-plane; by-source merges (below)
    // still need the full file list — every file is a rewrite candidate by
    // construction
    val read = table.resolveRead(-1L)
    val snap = read.fold(identity, _.snapshot)
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
    def normalizeSet(set: Map[String, BoundExpr], what: String): Map[String, BoundExpr] =
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
    val classified = FileSkipping.classify(spark, snap.schema, condition, Some(targetAlias))
    val targetOnly = classified.all.filter { c =>
      c.references.nonEmpty &&
      c.references.forall(r => targetCols.exists(_.equalsIgnoreCase(stripAlias(r.name))))
    }
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo => CatEqualTo, GreaterThanOrEqual => CatGte, LessThanOrEqual => CatLte, Literal => CatLiteral}
    val equiKeys: Seq[(AttributeReference, String)] = classified.partiallyResolved.collect {
      case CatEqualTo(a: AttributeReference, u: UnresolvedAttribute) => (a, u.nameParts.last)
      case CatEqualTo(u: UnresolvedAttribute, a: AttributeReference) => (a, u.nameParts.last)
    }.filter { case (a, srcName) =>
      targetCols.exists(_.equalsIgnoreCase(a.name)) &&
        source.columns.exists(_.equalsIgnoreCase(srcName))
    }

    // The source feeds the pass below, the match join, the unmatched-source
    // anti-join and the insert projection: checkpointed BEFORE its first
    // pass, so a shuffled source plan (ApplyChanges' per-key reduce) runs
    // once. The row id is frozen in the checkpoint: a lost block fails the
    // merge instead of being recomputed with different ids (which would
    // re-insert matched rows or drop unmatched ones). Blocks registered
    // from here on are freed in the finally (localCheckpoint blocks
    // otherwise linger until garbage collection).
    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val sourceCached = source.withColumn(SrcIdCol, monotonically_increasing_id())
      .localCheckpoint(false)
    try {
      // --- 1b. one source pass: numSourceRows + DYNAMIC pruning bounds ----
      // For equi-conjuncts `target.k = source.k` the same pass yields
      // [min(k), max(k)]; candidate files outside that range can never
      // contain a matched row (NULL keys never match under `=`), so at scale
      // a narrow source touches a handful of files instead of the whole table.
      val bounds = equiKeys.flatMap { case (_, s) => Seq(min(col(s)), max(col(s))) }
      val srcRow = sourceCached.agg(count(lit(1)), bounds: _*).collect()(0)
      val numSourceRows = srcRow.getLong(0)
      val dynamicPreds: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =
        equiKeys.zipWithIndex.flatMap { case ((attr, _), i) =>
          if (srcRow.isNullAt(1 + 2 * i)) Nil // all-null or empty source: no bound
          else Seq(
            CatGte(attr, CatLiteral.create(srcRow.get(1 + 2 * i), attr.dataType)),
            CatLte(attr, CatLiteral.create(srcRow.get(2 + 2 * i), attr.dataType)))
        }

      // NOT MATCHED BY SOURCE inverts the pruning logic: the affected rows
      // are exactly the ones the merge condition does NOT select, so
      // condition-derived file skipping would hide them — every file is a
      // candidate (Delta's by-source merges scan the full table likewise)
      val candidates = TableOps.dmlCandidates(table, read,
        if (bySourceN.nonEmpty) Nil else targetOnly ++ dynamicPreds)
      val scanTime = System.currentTimeMillis() - t0

      // source is always aliased so UpdateAll/InsertAll can reference its
      // side of the join unambiguously; user conditions with unqualified
      // source column names still resolve (an alias hides nothing). Sized
      // by its counted rows, so a small source broadcasts into the match.
      val srcAliasName = sourceAlias.getOrElse("__graft_src")
      val srcDf = org.apache.spark.sql.graft.SparkBridge
        .withRowCount(sourceCached, numSourceRows).alias(srcAliasName)
      val sourceCols = source.columns.toSeq
      def insertCols(frame: DataFrame): Seq[Column] = outFields.map(f =>
        insertColumn(f.name, srcAliasName, notMatchedN, sourceCols, frame)
          .cast(f.dataType).as(f.name))
      def metrics(copied: Long, deleted: Long, inserted: Long, updated: Long,
          filesRemoved: Int): Map[String, String] = Map(
        "numTargetRowsCopied" -> copied.toString,
        "numTargetRowsDeleted" -> deleted.toString,
        "numTargetRowsInserted" -> inserted.toString,
        "numTargetRowsUpdated" -> updated.toString,
        "numOutputRows" -> (copied + updated + inserted).toString,
        "numSourceRows" -> numSourceRows.toString,
        "numTargetFilesRemoved" -> filesRemoved.toString,
        "executionTimeMs" -> (System.currentTimeMillis() - t0).toString,
        "scanTimeMs" -> scanTime.toString,
        "rewriteTimeMs" -> (System.currentTimeMillis() - t0 - scanTime).toString)

      // --- insert-only fast path ------------------------------------------
      // Without matched clauses no target row can change: anti-join the
      // source against the candidate scan and append just the insert rows —
      // no touch detection, no file rewrite, no removes (the dominant cost
      // of an appendWithoutDuplicates-style merge on a large table).
      if (matchedN.isEmpty && bySourceN.isEmpty) {
        val tgtScanAll = table.dfForFiles(snap, candidates).alias(targetAlias)
        val unmatchedSrc = srcDf.join(tgtScanAll, expr(condition), "left_anti")
        val withAction = unmatchedSrc
          .withColumn(ActionCol, insertAction(notMatchedN, unmatchedSrc))
          .where(col(ActionCol) =!= Drop)
          .localCheckpoint(false)
        val nIns = withAction.count()
        val newData = withAction.select(insertCols(withAction): _*)
        val cdc = if (snap.cdfEnabled && nIns > 0)
          Some(newData.withColumn("_change_type", lit("insert")))
        else None
        return TableWriter.write(
          spark, table.path, newData, TableWriter.Append,
          operation = "MERGE",
          operationParameters = Map("predicate" -> s"[${condition}]"),
          extraMetrics = metrics(0L, 0L, nIns, 0L, 0),
          cdc = cdc,
          // the insert decisions were made by anti-joining the candidate
          // files — a winner rewriting one of them invalidates those
          // decisions, so the read footprint makes this NOT a blind append
          readFiles = candidates.map(_.path),
          read = Some(read),
          skipDataWrite = nIns == 0)
      }

      // --- 2. match: only changed rows leave the join ---------------------
      // Candidate rows carry their file and row position. An inner join
      // (left outer when NOT MATCHED BY SOURCE clauses exist) keeps the
      // target on the streamed side, so a small source broadcasts and
      // target rows are never shuffled. The checkpoint holds matched pairs
      // and the target rows a by-source clause changes — never the copied
      // majority. localCheckpoint, not persist: the frame feeds several
      // jobs, and a lost-and-recomputed partition must fail the merge
      // rather than re-decide a disposition differently.
      val tgt = DeletionVectors.scanWithPositions(table, snap, candidates).alias(targetAlias)
      val joinedBase = tgt.join(srcDf, expr(condition),
        if (bySourceN.nonEmpty) "left_outer" else "inner")
      val isPair = col(SrcIdCol).isNotNull
      val targetRows = joinedBase
        .withColumn(ActionCol, targetAction(matchedN, bySourceN, joinedBase))
        .where(isPair || col(ActionCol) =!= Copy)
        .localCheckpoint(false)

      // --- 3. bookkeeping: one aggregate over the changed rows ------------
      // by-source updates/deletes count and behave like their matched
      // counterparts everywhere downstream (metrics, mask, CDC)
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
      def inCodes(codes: Seq[Int]): Column =
        if (codes.isEmpty) lit(false)
        else col(ActionCol).isin(codes.map(Integer.valueOf): _*)
      val isUpd = inCodes(updateCodes)
      val isDel = inCodes(deleteCodes)
      // per (file, position), then per file: pairs vs paired positions is
      // the multi-match guard, updated/deleted positions are the rewrite
      // mask's size per file. One shuffle of changed rows by file serves
      // both levels; the collect returns a row per file.
      val fileRows = targetRows.select(col(FileCol), col(PosCol), isPair.as("pair"),
          isUpd.as("upd"), isDel.as("del"))
        .repartition(col(FileCol))
        .groupBy(FileCol, PosCol).agg(count(when(col("pair"), 1)).as("pairs"),
          count(lit(1)).as("rows"), max(col("upd")).as("upd"), max(col("del")).as("del"))
        .groupBy(FileCol).agg(sum(col("pairs")).as("pairs"),
          count(when(col("pairs") > 0, 1)).as("paired"), sum(col("rows")).as("rows"),
          count(when(col("upd"), 1)).as("upd"), count(when(col("del"), 1)).as("del"))
        .collect()
      def n(r: org.apache.spark.sql.Row, c: String): Long = r.getAs[Long](c)
      // The insert anti-join's matched ids and the rewrite's position mask
      // are each at most one row per checkpointed target row. Both are
      // broadcast (the source and the touched files then stream unshuffled)
      // only while that count fits the broadcast threshold: a hint bypasses
      // it, and a merge changing millions of rows would otherwise pull them
      // all to the driver. Past it Catalyst plans the joins — a shuffle.
      val changedRows = fileRows.map(n(_, "rows")).sum
      val maskRowBytes = 32L + candidates.iterator.map(_.path.length.toLong).maxOption.getOrElse(0L)
      val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
      def small(df: DataFrame): DataFrame =
        if (threshold > 0 && changedRows <= threshold / maskRowBytes) broadcast(df) else df

      // unmatched source rows: the source less every id that found a pair
      val inserts: Option[DataFrame] =
        if (notMatchedN.isEmpty) None
        else {
          val unmatched = srcDf.join(
            small(targetRows.where(isPair).select(SrcIdCol)), Seq(SrcIdCol), "left_anti")
          Some(unmatched.withColumn(ActionCol, insertAction(notMatchedN, unmatched))
            .where(col(ActionCol) =!= Drop)
            .localCheckpoint(false))
        }
      val nIns = inserts.fold(0L)(_.count())
      val nUpd = fileRows.map(n(_, "upd")).sum
      val nDel = fileRows.map(n(_, "del")).sum
      // SQL MERGE semantics (and Delta's rule): multiple source matches for
      // one target row are permitted ONLY when the sole matched clause is an
      // unconditional delete (all matches agree); anything else — update
      // clauses or conditional deletes — is nondeterministic, so fail loudly.
      val multiMatchOk = matchedN == Seq(MatchedClause(None, DeleteAction))
      val extraPairs = fileRows.map(r => n(r, "pairs") - n(r, "paired")).sum
      if (!multiMatchOk && extraPairs != 0)
        throw new IllegalStateException(
          s"MERGE aborted: $extraPairs target row(s) matched by multiple source rows; " +
            "deduplicate the source on the merge key first")
      // touched = files with an updated or deleted row; a file whose pairs
      // all fell through every clause keeps its bytes
      val changedFiles = fileRows.collect {
        case r if n(r, "upd") + n(r, "del") > 0 => r.getString(0)
      }.toSet
      val touched = candidates.filter(f => changedFiles.contains(f.path))

      // --- 4. rewrite -----------------------------------------------------
      // Copied rows: each touched file rescanned in its own task (one task
      // per split), less the updated/deleted positions — a broadcast anti-
      // join on (file, position) over a scan that already applies the
      // file's deletion vectors. Every output file thus holds one input
      // split's survivors in their original order, and copied rows never
      // cross an exchange: the table keeps its key clustering, and file
      // skipping keeps working for the next read or DELETE. (A mask too
      // large to broadcast is shuffled instead: correct, but the copied
      // rows then lose their per-file layout.)
      val masked = targetRows.where(isUpd || isDel).select(FileCol, PosCol)
      val copied = DeletionVectors.scanWithPositions(table, snap, touched, taskPerFile = true)
        .join(small(masked), Seq(FileCol, PosCol), "left_anti")
        .alias(targetAlias)
      val keep = copied.select(outFields.map(f =>
        targetValue(f, targetCols, targetAlias).cast(f.dataType).as(f.name)): _*)
      // numTargetRowsCopied from the touched files' footer stats: every live
      // row of a touched file is updated, deleted, or copied
      val nCopied = TableOps.copiedRows(touched, nUpd + nDel)(copied.count())

      // Updated and inserted rows go to new file(s), about as many as the
      // candidates' average row count makes them
      val outCols = outFields.map { f =>
        outputColumn(f.name, targetValue(f, targetCols, targetAlias), srcAliasName,
            matchedN, sourceCols, bySourceN, targetRows)
          .cast(f.dataType).as(f.name)
      }
      val updated = targetRows.where(isUpd).select(outCols: _*)
      val inserted = inserts.map(ins => ins.select(insertCols(ins): _*))
      val changed = inserted.fold(updated)(updated.unionByName(_))
      val candRows = candidates.flatMap(f => GraftLog.parseStats(f.stats).map(_.numRecords))
      val rowsPerFile = if (candRows.isEmpty) 0L else candRows.sum / candRows.size
      val nNewFiles =
        if (rowsPerFile <= 0) 1
        else math.max(1L, (nUpd + nIns + rowsPerFile - 1) / rowsPerFile).min(Int.MaxValue).toInt
      val newData = keep.unionByName(changed.coalesce(nNewFiles))

      // --- CDC ------------------------------------------------------------
      val cdc: Option[DataFrame] = if (snap.cdfEnabled) {
        val tCols = outFields.map(f =>
          targetValue(f, targetCols, targetAlias).cast(f.dataType).as(f.name))
        val deletedRows = targetRows.where(isDel)
        // duplicate pairs reach here only under the lone unconditional delete
        val deletes = (if (multiMatchOk) deletedRows.dropDuplicates(FileCol, PosCol)
          else deletedRows).select(tCols :+ lit("delete").as("_change_type"): _*)
        val updPre = targetRows.where(isUpd)
          .select(tCols :+ lit("update_preimage").as("_change_type"): _*)
        val updPost = updated.withColumn("_change_type", lit("update_postimage"))
        val ins = inserted.map(_.withColumn("_change_type", lit("insert")))
        Some((Seq(deletes, updPre, updPost) ++ ins).reduce(_ union _))
      } else None

      // --- 5. commit ------------------------------------------------------
      TableWriter.write(
        spark, table.path, newData,
        TableWriter.Append,
        operation = "MERGE",
        operationParameters = Map("predicate" -> s"[${condition}]"),
        extraMetrics = metrics(nCopied, nDel, nIns, nUpd, touched.size),
        cdc = cdc,
        removeFiles = touched.map(_.path),
        // read footprint: every candidate file (superset of touched) — a
        // winner removing a candidate may change which rows match
        readFiles = candidates.map(_.path),
        read = Some(read),
        skipDataWrite = touched.isEmpty && nIns == 0
      )
    } finally freeNewBlocks(spark, persistedBefore)
  }

  /** Free the blocks of RDDs registered after `before` — deterministic
    * cleanup of localCheckpoint blocks (the Dataset API offers no direct
    * handle).
    */
  private def freeNewBlocks(spark: SparkSession, before: scala.collection.Set[Int]): Unit =
    (spark.sparkContext.getPersistentRDDs.keySet -- before)
      .foreach(org.apache.spark.sql.graft.SparkBridge.freeBlocks(spark, _))

  /** First-matching-clause disposition of a joined target row as a nested
    * CASE over `frame` (the pre-checkpoint join — clause conditions carrying
    * correlated scalar subqueries bind onto its attributes and decorrelate
    * there, so the checkpoint materializes each disposition exactly once).
    * Pairs take the matched clauses, target-only rows (left outer join) the
    * by-source ones; a row no clause claims is a Copy.
    */
  private def targetAction(
      matched: Seq[MatchedClause],
      bySource: Seq[NotMatchedBySourceClause],
      frame: DataFrame): Column = {
    val isPair = col(SrcIdCol).isNotNull
    // built in reverse so earlier clauses take precedence
    val pairs = matched.zipWithIndex.reverse.foldLeft(lit(Copy)) { case (acc, (cl, i)) =>
      val cond = isPair && cl.condition.map(_.column(frame)).getOrElse(lit(true))
      when(cond, matchedCode(i)).otherwise(acc)
    }
    bySource.zipWithIndex.reverse.foldLeft(pairs) { case (acc, (cl, i)) =>
      val cond = !isPair && cl.condition.map(_.column(frame)).getOrElse(lit(true))
      when(cond, bySourceCode(i)).otherwise(acc)
    }
  }

  /** First-matching NOT MATCHED clause of an unmatched source row in
    * `frame`; Drop when none applies.
    */
  private def insertAction(notMatched: Seq[NotMatchedClause], frame: DataFrame): Column =
    notMatched.zipWithIndex.reverse.foldLeft(lit(Drop)) { case (acc, (cl, i)) =>
      when(cl.condition.map(_.column(frame)).getOrElse(lit(true)), insertCode(i))
        .otherwise(acc)
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

  /** Output value of column `c` for a changed target row, as a CASE over
    * its disposition; `base` is the target-side value ([[targetValue]]).
    */
  private def outputColumn(
      c: String,
      base: Column,
      srcAlias: String,
      matched: Seq[MatchedClause],
      sourceCols: Seq[String],
      bySource: Seq[NotMatchedBySourceClause],
      frame: DataFrame): Column = {
    def setValue(set: Map[String, BoundExpr]): Column =
      set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) => v.column(frame) }
        .getOrElse(base)
    var out: Column = base
    matched.zipWithIndex.foreach { case (cl, i) =>
      val v = cl.action match {
        case UpdateExpr(set) => Some(setValue(set))
        case UpdateAll =>
          Some(if (sourceCols.exists(_.equalsIgnoreCase(c))) col(s"$srcAlias.$c") else base)
        case DeleteAction => None // delete rows never reach the output projection
      }
      v.foreach(x => out = when(col(ActionCol) === matchedCode(i), x).otherwise(out))
    }
    bySource.zipWithIndex.foreach { case (cl, i) =>
      cl.action match {
        case UpdateExpr(set) =>
          out = when(col(ActionCol) === bySourceCode(i), setValue(set)).otherwise(out)
        case _ => ()
      }
    }
    out
  }

  /** Value of column `c` for an inserted source row (only notMatched
    * clauses apply; no target side exists).
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
