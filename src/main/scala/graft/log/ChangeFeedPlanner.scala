package graft.log

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.tables._

/** The one rule for which change rows a commit yields, shared by the batch
  * change feed ([[ChangeDataFeedHelper.readCDF]]) and the streaming source
  * ([[graft.sources.GraftStreamSource]]). [[classify]] labels each commit of
  * a version range with one [[ChangeFeedPlanner.Commit]] kind; [[frames]]
  * turns any subset of those commits into one DataFrame of change rows. The
  * two readers are policies over the kinds: the batch feed plans every
  * commit, a stream plans the commits its options keep.
  *
  * Full-overwrite commits (REPLACE TABLE [AS SELECT], INSERT OVERWRITE /
  * SaveMode.Overwrite, dynamic partition overwrite) and RESTORE write NO
  * change files — their change rows are SYNTHESIZED here: every removed
  * file's live rows as `delete` (read against the pre-commit state; the
  * bytes stay on disk until vacuum), every added file's rows as `insert`.
  * Delta's overwrite posture: materializing them at write time would read
  * the whole old table and double-write the new one. The tradeoff is
  * vacuum: synthesized rows cannot outlive the replaced files, so a
  * post-vacuum read fails loudly instead of answering wrong.
  */
private[graft] class ChangeFeedPlanner(table: GraftTable) {
  import ChangeFeedPlanner._

  private val spark = table.spark
  private val log = table.log
  private val path = table.path

  /** Classify `versions` (ascending, contiguous) in one pass. The pre- and
    * post-commit states a removing commit needs are folded LAZILY — once, at
    * the first such commit, then advanced from the actions this pass reads:
    * an eager fold of v-1 would die at the vacuum horizon (where v-1 is
    * legitimately gone and the horizon guard must fire first), and a fold
    * per commit is quadratic over a complete-mode sink's hundreds of
    * overwrites. Lazy, so a caller that stops early reads no further.
    */
  def classify(versions: Seq[Long]): Iterator[Commit] = {
    var state: Option[Snapshot] = None
    versions.iterator.map { v =>
      val actions = log.actionsAt(v)
      var post: Option[Snapshot] = None
      def states: (Snapshot, Snapshot) = {
        val pre = state.filter(_.version == v - 1).getOrElse(log.snapshot(v - 1))
        post = Some(pre.advance(v, actions))
        (pre, post.get)
      }
      val commit = classify(v, actions, states)
      state = post.orElse(state.filter(_.version == v - 1).map(_.advance(v, actions)))
      commit
    }
  }

  private def classify(v: Long, actions: Seq[Action], states: => (Snapshot, Snapshot)): Commit = {
    val info = actions.collectFirst { case c: CommitInfo => c }
    val op = info.fold("")(_.operation)
    val params = info.fold(Map.empty[String, String])(_.operationParameters)
    val cdc = actions.collect { case c: AddCDCFile => c }
    val adds = actions.collect { case a: AddFile => a }
    val removed = actions.collect { case r: RemoveFile => r.path }.toSet
    // a vacuum-horizon REWRITE holds the table's whole live file set in
    // place of the version's original change content — reading it as
    // changes would re-emit every row. Preserved change files still replay
    // exactly; whatever else the rewrite holds, the original content is gone
    if (LayoutOps(op)) LayoutOnly(v, actions)
    else if (params.contains(GraftLog.HorizonRewriteParam) && cdc.isEmpty)
      throw new IllegalStateException(
        s"version $v of $path is a vacuum-horizon rewrite — its original " +
          "change content was replaced by a snapshot; read the change feed from " +
          "a version above the vacuum horizon, or restart the stream from a " +
          "fresh checkpoint (snapshot batch)")
    else if (cdc.nonEmpty) ChangeFiles(v, actions, cdc)
    else if (removed.isEmpty) { if (adds.isEmpty) MetadataOnly(v, actions) else Append(v, actions, adds) }
    else {
      // Partial rewrites — merge/update/delete — always carry change files
      // when CDF is on, so reaching here without them means either a
      // whole-file replace (remove-ALL, a dynamic partition overwrite, or a
      // RESTORE — whole files by construction) or CDF off for this commit.
      // Synthesize iff the COMMITTED state has CDF on.
      val (pre, post) = states
      val replaces = op == "RESTORE" || removed == pre.files.map(_.path).toSet ||
        params.get("partitionOverwriteMode").exists(_.equalsIgnoreCase("dynamic"))
      if (replaces && post.cdfEnabled)
        Replace(v, actions, pre.copy(files = Nil), post.copy(files = Nil),
          pre.files.filter(f => removed.contains(f.path)), adds)
      else Unrecorded(v, actions)
    }
  }

  /** The change rows of `commits` — any subset of one [[classify]] pass,
    * ascending — with data columns named as at version `end`: at most one
    * change-file scan, one append scan, and the replace groups (one scan per
    * metadata regime and side), each row stamped with `_change_type`,
    * `_commit_version` and `_commit_timestamp`. None when the commits yield
    * no rows. Schemas come from log heads (metadata only, no file fold).
    */
  def frames(commits: Seq[Commit], end: Long): Option[DataFrame] = {
    val cdc = commits.collect { case c: ChangeFiles => c }
    val ins = commits.collect { case c: Append => c }
    val ovw = commits.collect { case c: Replace => c }
    if (cdc.isEmpty && ins.isEmpty && ovw.isEmpty) return None
    val endSchema = log.head(end).schema
    // relabel through the stable physical names: logical@`from` → physical
    // → logical@end (identity for unmapped schemas), so a rename landing
    // in-range surfaces one column under its range-end name
    def relabel(df: DataFrame, from: StructType): DataFrame =
      ColumnMapping.toLogical(ColumnMapping.toPhysical(df, from), endSchema)
    def inserts(df: DataFrame): DataFrame = df.withColumn("_change_type", lit("insert"))

    // change files carry the full row under PHYSICAL names (incl. partition
    // columns), read with the range-end schema: older files surface later
    // columns as null
    val cdcFrame = cdc.headOption.map { first =>
      val schema = ColumnMapping.physicalSchema(endSchema).add("_change_type", StringType)
      val files = cdc.flatMap(c => c.files.map(f => (f.path, c.version, c.timestamp)))
      (first.version, stamp(ColumnMapping.toLogical(
        spark.read.schema(schema).parquet(files.map(f => Fs.child(path, f._1)): _*),
        endSchema), files))
    }

    // plain appends read with the newest appending version's metadata
    val insFrame = ins.headOption.map { first =>
      val meta = log.head(ins.last.version)
      val files = ins.flatMap(c => c.adds.map(a => (a, c.version, c.timestamp)))
      (first.version, stampedOrPerCommit(files)(fs =>
        inserts(relabel(table.dfForFiles(meta, fs), meta.schema))).map(_._2).reduce(unionAll))
    }

    // replaces: the delete side reads the REMOVED files under the pre-commit
    // metadata, the insert side the added files under the committed one.
    // Commits are GROUPED by that metadata regime, so N overwrites collapse
    // to O(regimes) scans — a complete-mode sink with CDF on commits one
    // overwrite per batch, and one branch per commit would re-grow the plan
    // explosion this batching exists to avoid.
    val ovwFrame = ovw.headOption.map { first =>
      val missing = ovw.flatMap(o => o.removed
        .filterNot(f => Fs.exists(GraftTable.resolveDataPath(path, f.path)))
        .map(f => (o.version, f.path)))
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"version ${missing.head._1} of $path replaced the table, and " +
            s"${missing.size} of the replaced files were since vacuumed " +
            s"(first: ${missing.head._2}); the delete-side change rows are no " +
            "longer reconstructible — read the change feed from a version " +
            "above the vacuum horizon, or restart the stream from a fresh " +
            "checkpoint (snapshot batch)")
      val deletes = ovw.groupBy(_.before.metadata).values.toSeq.flatMap { g =>
        stampedOrPerCommit(g.flatMap(o => o.removed.map((_, o.version, o.timestamp))))(fs =>
          table.dfForFiles(g.head.before, fs).withColumn("_change_type", lit("delete")))
          .map { case (v, df) => ((v, 0), df) }
      }
      val adds = ovw.filter(_.adds.nonEmpty).groupBy(_.after.metadata).values.toSeq.flatMap { g =>
        val meta = g.last.after
        stampedOrPerCommit(g.flatMap(o => o.adds.map((_, o.version, o.timestamp))))(fs =>
          inserts(relabel(table.dfForFiles(meta, fs), meta.schema)))
          .map { case (v, df) => ((v, 1), df) }
      }
      // deletes lead inserts at equal first version (the layout a
      // materialized overwrite produced)
      (first.version, (deletes ++ adds).sortBy(_._1).map(_._2).reduce(unionAll))
    }

    // column order: the earliest contributing version's mechanism leads
    Some(Seq(cdcFrame, insFrame, ovwFrame).flatten.sortBy(_._1).map(_._2).reduce(unionAll))
  }

  /** `files` — (file, commit version, commit millis) — read by `read` as ONE
    * scan stamped by file name, or, where a name cannot identify its commit,
    * one constant-stamped scan per commit: a base name in TWO commits (a
    * RESTORE re-adding a path; one write job reusing its task file name
    * across partition dirs that different commits replaced) breaks the
    * name→commit mapping, and a deletion-vector file reads through the
    * position anti-join, where input_file_name() is no longer
    * scan-reliable. Both are rare; the common shape stays one scan.
    */
  private def stampedOrPerCommit(files: Seq[(AddFile, Long, Long)])(
      read: Seq[AddFile] => DataFrame): Seq[(Long, DataFrame)] = {
    val byName = files.groupBy(f => baseName(f._1.path)).values
    if (!files.exists(_._1.dv.exists(_.cardinality > 0)) &&
        byName.forall(_.map(_._2).distinct.size == 1))
      Seq((files.map(_._2).min,
        stamp(read(files.map(_._1)), files.map { case (f, v, ts) => (f.path, v, ts) })))
    else files.groupBy(_._2).toSeq.sortBy(_._1).map { case (v, group) =>
      (v, read(group.map(_._1))
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", (lit(group.head._3) / 1000L).cast("timestamp")))
    }
  }

  /** Stamp each row of `df` with its file's commit — `entries` are
    * (table-relative path, version, commit millis) — by the file's base
    * name. One write job reuses a base name across partition directories
    * (part-<task>-<jobUUID> in each), so names are not unique within a
    * commit, but all such collisions share that commit's stamp; a name
    * mapped to TWO commits fails fast. input_file_name() returns the file's
    * URI, whose name may be percent-encoded, so the lookup carries both
    * spellings. The lookup is a driver-built map read per row — a join
    * would cost a broadcast job per scan — and an unmatched file fails the
    * read loudly on BOTH stamped columns: a consumer projecting only
    * `_commit_timestamp` must not prune the guard away.
    */
  private def stamp(df: DataFrame, entries: Seq[(String, Long, Long)]): DataFrame = {
    def uriEncoded(name: String): String =
      new java.net.URI(null, null, "/" + name, null).getRawPath.substring(1)
    val variants = entries.flatMap { case (rel, v, ts) =>
      val raw = baseName(rel)
      Set(raw, uriEncoded(raw)).map(n => (n, (v, ts)))
    }.distinct
    require(variants.map(_._1).distinct.size == variants.size,
      s"CDF: change-file base names map to multiple commits in $path")
    val version = lookup(variants.map { case (n, (v, _)) => n -> v }.toMap)
    val millis = lookup(variants.map { case (n, (_, ts)) => n -> ts }.toMap)
    def guarded(stamp: String, value: Column): Column =
      when(col(stamp).isNull, raise_error(concat(
        lit("CDF: change file not matched to a commit: "), input_file_name())))
        .otherwise(value)
    df.withColumn("__graft_cdf_name", element_at(split(input_file_name(), "/"), -1))
      .withColumn("__graft_cdf_v", version(col("__graft_cdf_name")))
      .withColumn("__graft_cdf_ts", millis(col("__graft_cdf_name")))
      .withColumn("_commit_version", guarded("__graft_cdf_v", col("__graft_cdf_v")))
      .withColumn("_commit_timestamp", guarded("__graft_cdf_ts",
        (col("__graft_cdf_ts") / 1000L).cast("timestamp")))
      .drop("__graft_cdf_name", "__graft_cdf_v", "__graft_cdf_ts")
  }
}

private[graft] object ChangeFeedPlanner {

  /** Rewrites that leave every row as it was (compaction, Z-order,
    * re-partitioning): no change rows, whatever the commit's file actions.
    */
  private val LayoutOps = Set("OPTIMIZE", "REPARTITION")

  private def baseName(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)

  /** A per-row map lookup (null when absent) over a driver-built map, which
    * ships inside the task: no join, so no broadcast job.
    */
  private def lookup(values: Map[String, Long]): UserDefinedFunction =
    udf(new UDF1[String, java.lang.Long] {
      def call(name: String): java.lang.Long = values.get(name).map(Long.box).orNull
    }, LongType)

  private def unionAll(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b, allowMissingColumns = true)

  /** One classified commit; `actions` are its log actions. */
  sealed trait Commit {
    def version: Long
    def actions: Seq[Action]
    lazy val timestamp: Long =
      actions.collectFirst { case c: CommitInfo => c.timestamp }.getOrElse(0L)

    /** Removes files: the commit rewrites or deletes rows, not only adds. */
    def rewrites: Boolean = actions.exists(_.isInstanceOf[RemoveFile])

    /** Removes files and adds no new rows. A deletion-vector update re-adds
      * the path it removes with a new mask — part of the delete, not new
      * data. A RESTORE never counts: its same-path re-add (undoing a DV
      * delete) carries returning rows.
      */
    def pureDelete: Boolean = {
      val removed = actions.collect { case r: RemoveFile => r.path }.toSet
      removed.nonEmpty &&
        !actions.exists { case c: CommitInfo => c.operation == "RESTORE"; case _ => false } &&
        actions.forall { case a: AddFile => removed.contains(a.path); case _ => true }
    }
  }

  /** OPTIMIZE / REPARTITION: rows unchanged (Delta: dataChange=false). */
  final case class LayoutOnly(version: Long, actions: Seq[Action]) extends Commit

  /** No file actions (schema, properties, a no-op merge). */
  final case class MetadataOnly(version: Long, actions: Seq[Action]) extends Commit

  /** The commit recorded its change rows in change files. */
  final case class ChangeFiles(version: Long, actions: Seq[Action], files: Seq[AddCDCFile])
    extends Commit

  /** Adds only: the added files' rows are the inserts. */
  final case class Append(version: Long, actions: Seq[Action], adds: Seq[AddFile]) extends Commit

  /** A whole-file replace with CDF on (full or dynamic overwrite, RESTORE):
    * change rows synthesized from the `removed` files under `before`'s
    * metadata and the `adds` under `after`'s (both heads: `files` empty).
    */
  final case class Replace(
      version: Long, actions: Seq[Action], before: Snapshot, after: Snapshot,
      removed: Seq[AddFile], adds: Seq[AddFile]) extends Commit

  /** Removes files but wrote no change data (CDF off): no rows to read. */
  final case class Unrecorded(version: Long, actions: Seq[Action]) extends Commit
}
