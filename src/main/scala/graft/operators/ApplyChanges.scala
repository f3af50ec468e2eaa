package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.tables._

/** APPLY CHANGES — materialize a change feed (CDC) into a downstream table.
  *
  * The batch analogue of Delta Live Tables' `APPLY CHANGES INTO` (and the
  * standard consumer of [[graft.log.ChangeDataFeedHelper]] output, reference
  * `ChangeDataFeedHelper.scala`): a frame of change rows — upserts and
  * deletes, each stamped with a sequencing value — collapses to its net
  * effect and merges into the target in ONE pass:
  *
  *  1. **Reduce**: the latest change per key wins. Within one call, rows
  *     order by `(sequence, isDelete)` — at an equal sequence a delete
  *     applies AFTER an upsert (the DLT tie rule), so `max_by` over that
  *     pair picks the net outcome. One shuffle on the key, partial-agg
  *     combined map-side; the reduced set is duplicate-mass smaller than
  *     the feed and usually broadcastable into the merge.
  *  2. **Apply**: a single [[GraftMerge]] — matched+delete drops the row,
  *     matched+upsert rewrites the target columns present in the feed
  *     (absent columns keep their target value), unmatched+upsert inserts
  *     (absent columns go NULL), unmatched+delete is a no-op. Merge file
  *     pruning means only files containing changed keys rewrite.
  *
  * **Out-of-order feeds across calls**: when the target schema CONTAINS the
  * sequence column, every matched clause is guarded by
  * `source.seq >= target.seq`, so replaying a stale batch (lower sequence
  * than already applied) leaves the row untouched — apply-then-stale-replay
  * equals apply alone. Without a stored sequence column no guard exists and
  * the caller owns cross-call ordering. Deletes are PHYSICAL: a stale
  * upsert arriving after the delete of its key re-inserts (no tombstone
  * store) — feeds that can reorder around deletes should keep tombstones in
  * the target (filter `is_deleted` instead of `deleteWhen`).
  *
  * Ties beyond `(sequence, isDelete)` — two upserts of one key at one
  * sequence with different payloads — resolve to an arbitrary-but-single
  * row (`max_by`); emit unique sequences per key if that matters.
  */
object ApplyChanges {
  private val DelFlag = "__graft_ac_delete"

  /** Apply `changes` to `table`. Returns the committed table version.
    *
    * @param keyCols      join key — the change feed's primary key
    * @param sequenceCol  ordering column (commit version, timestamp, LSN…);
    *                     must exist in `changes`; if also present in the
    *                     target schema it is stored and guards replays
    * @param deleteWhen   SQL predicate over the change columns marking
    *                     delete rows (e.g. `"_change_type = 'delete'"`);
    *                     None = the feed is upserts only
    */
  def applyChanges(
      table: GraftTable,
      changes: DataFrame,
      keyCols: Seq[String],
      sequenceCol: String,
      deleteWhen: Option[String] = None): Long = {
    require(keyCols.nonEmpty, "applyChanges needs at least one key column")
    val feedCols = changes.columns.toSeq
    def inFeed(c: String) = feedCols.exists(_.equalsIgnoreCase(c))
    require(inFeed(sequenceCol), s"sequence column `$sequenceCol` not in change feed ${feedCols.mkString("[", ", ", "]")}")
    keyCols.foreach(k => require(inFeed(k), s"key column `$k` not in change feed"))

    // -- 1. reduce the feed to its net effect per key ----------------------
    val flagged = changes.withColumn(DelFlag,
      deleteWhen.map(p => coalesce(expr(p).cast("boolean"), lit(false))).getOrElse(lit(false)))
    val payload = struct(flagged.columns.map(col).toIndexedSeq: _*)
    val ord = struct(col(sequenceCol), col(DelFlag))
    val latest = flagged
      .groupBy(keyCols.map(col).toIndexedSeq: _*)
      .agg(max_by(payload, ord).as("__graft_ac_row"))
      .select(col("__graft_ac_row.*"))

    // -- 2. one merge ------------------------------------------------------
    val targetFields = table.schemaOnly.fields.toSeq
    val lowerKeys = keyCols.map(_.toLowerCase)
    val seqStored = targetFields.exists(_.name.equalsIgnoreCase(sequenceCol))
    // a NULL stored sequence (row written by a plain append, or schema-merge
    // NULL) must mean "always apply", not "frozen forever" — a bare >= would
    // evaluate NULL and block every future change to the row
    val guard: Option[String] =
      if (seqStored)
        Some(s"(tgt.`$sequenceCol` IS NULL OR s.`$sequenceCol` >= tgt.`$sequenceCol`)")
      else None
    def and(a: Option[String], b: String): Option[String] =
      Some(a.map(x => s"($x) AND $b").getOrElse(b))

    val cond = keyCols.map(k => s"tgt.`$k` = s.`$k`").mkString(" AND ")
    // non-key target columns carried by the feed rewrite on update; target
    // columns the feed lacks keep their value (update) / go NULL (insert)
    val updateSet = targetFields.collect {
      case f if !lowerKeys.contains(f.name.toLowerCase) && inFeed(f.name) =>
        f.name -> s"s.`${f.name}`"
    }.toMap
    val insertValues = targetFields.map { f =>
      f.name -> (if (inFeed(f.name)) s"s.`${f.name}`" else s"CAST(NULL AS ${f.dataType.sql})")
    }.toMap

    val b = GraftMerge(table, "tgt")
      .merge(latest, cond, Some("s"))
      .whenMatchedDelete(and(guard, s"s.`$DelFlag`"))
    // a key-only target has nothing to rewrite on a matched upsert
    if (updateSet.nonEmpty)
      b.whenMatchedUpdateExpr(updateSet, and(guard, s"NOT s.`$DelFlag`"))
    b.whenNotMatchedInsertExpr(insertValues, Some(s"NOT s.`$DelFlag`"))
      .execute()
  }
}
