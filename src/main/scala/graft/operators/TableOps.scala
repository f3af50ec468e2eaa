package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.tables._

/** Row-level DELETE / UPDATE and file-level OPTIMIZE (compaction, clustering)
  * for GraftTable — the Delta facilities the reference's tests drive around
  * its helpers (`deltaTable.delete/update`, `optimize().executeCompaction()`,
  * `optimize().executeZOrderBy`, SURVEY §4.2). Same rewrite discipline as the
  * merge engine: prune candidate files by stats, rewrite only files that
  * contain affected rows, commit with Delta-compatible metrics + CDC.
  */
object TableOps {

  /** Predicate-matched candidate files of a predicate-scoped DML's one
    * resolution ([[GraftTable.resolveRead]]): a full driver fold below
    * `spark.graft.snapshot.driverFileLimit` is walked on the driver with
    * bloom probes; past it, the HEAD — executor-side skipping (no bloom —
    * sidecar loads stay a driver-path feature) and the driver holds only
    * O(matching) files. Every other consumer of the resolution reads
    * metadata-plane fields (schema, properties, transactions, version) plus
    * the candidate subset — never the full file list.
    */
  private[operators] def dmlCandidates(
      table: GraftTable, read: Either[Snapshot, SegmentHead],
      preds: Seq[org.apache.spark.sql.catalyst.expressions.Expression]): Seq[AddFile] =
    read match {
      case Right(head) =>
        graft.tables.DistributedSnapshot.prunedFilesByExprs(table.spark, table.log, head, preds)
      case Left(snap) =>
        FileSkipping.filesMatching(snap, preds,
          Some(BloomIndex.ProbeContext(table.spark, table.path)))
    }

  /** Rows a copy-on-write rewrite of `touched` carries over unchanged: the
    * files' live rows — footer-stats record counts less their deletion-
    * vector cardinality — minus the `changed` ones, so no pass over the
    * rewritten rows is needed. `count` runs only when a touched file was
    * written without stats (a foreign writer).
    */
  private[operators] def copiedRows(touched: Seq[AddFile], changed: Long)(count: => Long): Long = {
    val live = touched.map(f => GraftLog.parseStats(f.stats)
      .map(_.numRecords - f.dv.map(_.cardinality).getOrElse(0L)))
    if (live.forall(_.isDefined)) live.flatten.sum - changed else count
  }

  /** DELETE FROM table [WHERE condition]. Returns the committed version.
    *
    * With `graft.enableDeletionVectors=true` the delete is MERGE-ON-READ:
    * matched rows are masked via position sidecars instead of rewriting
    * their files — O(deleted rows) written, zero data bytes rewritten
    * (see [[graft.tables.DeletionVectors]]).
    */
  def delete(table: GraftTable, condition: Option[String] = None): Long =
    deleteWhere(table, BoundExpr.Text(condition.getOrElse("true")))

  /** Spark-native DELETE whose resolved condition carries non-correlated
    * subqueries (no text round-trip possible — see [[BoundExpr.Resolved]]).
    */
  private[graft] def deleteExpr(
      table: GraftTable,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      tableOutput: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]): Long =
    deleteWhere(table, BoundExpr.resolved(cond, tableOutput))

  private def deleteWhere(table: GraftTable, cond: BoundExpr): Long = {
    val t0 = System.currentTimeMillis()
    new PredicateRewrite(table, table.resolveRead(-1L), t0, cond,
      RowRewrite("DELETE", Map("predicate" -> s"""["${cond.display}"]"""))).run()
  }

  /** UPDATE table SET ... [WHERE condition]. Returns the committed version.
    *
    * With `graft.enableDeletionVectors=true` the update is MERGE-ON-READ:
    * the matched rows' OLD versions are masked via position sidecars and
    * only the NEW row versions are written — unmatched neighbors in the
    * same files are never copied (at 100 TB, updating 0.1% of rows stops
    * rewriting the other 99.9%).
    */
  def update(table: GraftTable, condition: Option[String], set: Map[String, String]): Long =
    updateMixed(table, BoundExpr.Text(condition.getOrElse("true")),
      set.map { case (k, v) => k -> BoundExpr.Text(v) })

  /** Spark-native UPDATE whose resolved condition carries non-correlated
    * subqueries (no text round-trip possible — see [[BoundExpr.Resolved]]);
    * the SET assignments arrive as text (scalar subqueries in assignments
    * are evaluated to literals upstream, before this call).
    */
  private[graft] def updateExpr(
      table: GraftTable,
      cond: org.apache.spark.sql.catalyst.expressions.Expression,
      tableOutput: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      set: Map[String, String]): Long =
    updateMixed(table, BoundExpr.resolved(cond, tableOutput),
      set.map { case (k, v) => k -> BoundExpr.Text(v) })

  /** UPDATE with condition AND/OR assignments carried as [[BoundExpr]]s —
    * the seam that lets a SET value hold a PER-ROW CORRELATED scalar
    * subquery (`SET x = (SELECT max(y) FROM s WHERE s.k = t.k)`): the
    * resolved value rebinds its outer references onto the rewrite frame,
    * Spark's own decorrelation plans the left-outer-join + aggregate, and
    * the subquery's graft sources are snapshot-pinned so the data write and
    * the CDC post-image evaluate one state. (Delta refuses these outright.)
    */
  private[graft] def updateMixed(
      table: GraftTable, cond: BoundExpr, set: Map[String, BoundExpr]): Long = {
    val t0 = System.currentTimeMillis()
    val read = table.resolveRead(-1L)
    val snap = read.fold(identity, _.snapshot)
    require(set.nonEmpty, "UPDATE needs at least one SET assignment")
    // a SET on an unknown column must fail, not silently no-op (SQL UPDATE
    // semantics — and the silent form reports numUpdatedRows > 0 for rows
    // it never changed)
    val unknown = set.keys.filterNot(k => snap.schema.fieldNames.exists(_.equalsIgnoreCase(k)))
    require(unknown.isEmpty,
      s"UPDATE SET references column(s) not in the table schema: ${unknown.mkString(", ")}")
    new PredicateRewrite(table, read, t0, cond,
      RowRewrite("UPDATE", Map("predicate" -> s"[${cond.display}]"), set = Some(set))).run()
  }

  /** What a predicate-scoped rewrite does with the rows its condition
    * matches: drops them (`set` empty — DELETE, and replaceWhere, which also
    * writes its validated `incoming` rows) or re-projects them through the
    * `set` assignments (UPDATE). `operation` and `parameters` go to the
    * commit, `extraActions` ride along after the removes.
    */
  private final case class RowRewrite(
      operation: String,
      parameters: Map[String, String],
      set: Option[Map[String, BoundExpr]] = None,
      incoming: Option[DataFrame] = None,
      extraActions: Seq[Action] = Nil)

  /** The one predicate-scoped rewrite behind DELETE, UPDATE and
    * replaceWhere, planned from the table's one resolution `read` (at
    * `t0`) — the commit is built from it too: candidate files by
    * stats+bloom pruning on the condition, then merge-on-read on a
    * deletion-vector table ([[dv]]), copy-on-write otherwise ([[cow]]) —
    * and always for replaceWhere.
    */
  private final class PredicateRewrite(table: GraftTable, read: Either[Snapshot, SegmentHead],
      t0: Long, cond: BoundExpr, rw: RowRewrite) {
    private val spark = table.spark
    private val snap = read.fold(identity, _.snapshot)
    private val candidates = dmlCandidates(table, read,
      FileSkipping.classify(spark, snap.schema, cond.skippingText).all)
    private val scanTime = System.currentTimeMillis() - t0
    private val fields = snap.schema.fieldNames.toSeq
    private val dropped = rw.set.isEmpty

    def run(): Long =
      if (rw.incoming.isEmpty && DeletionVectors.enabled(snap)) dv() else cow()

    /** `rows` with the per-row match flag: the condition with NULL
      * collapsed to false — SQL 3-valued logic, a NULL-evaluating
      * predicate neither deletes nor updates its row.
      */
    private def flagged(rows: DataFrame): DataFrame =
      rows.withColumn(Matched, coalesce(cond.column(rows), lit(false)))

    /** Copy-on-write: every candidate file holding a matched row is
      * rewritten — its unmatched rows copied, its matched rows dropped or
      * re-projected — plus replaceWhere's incoming rows, in one commit that
      * removes the files.
      */
    private def cow(): Long = {
      // exact touch detection: the candidates actually CONTAINING a match,
      // with the matches counted per file on the way
      val candDf = table.dfForFiles(snap, candidates).withColumn("__graft_file", input_file_name())
      val perFile = candDf.where(cond.column(candDf)).groupBy("__graft_file").count()
        .collect().map(r => r.getString(0) -> r.getLong(1))
      val touched = TableWriter.resolveTouched(perFile.map(_._1), candidates)
      val nMatched = perFile.map(_._2).sum
      // persisted only when the change feed reads the rows a second time
      val rows = flagged(table.dfForFiles(snap, touched))
      if (snap.cdfEnabled) rows.persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val nCopied = copiedRows(touched, nMatched)(rows.where(!col(Matched)).count())
        val setCols = rw.set.map(assigned(_, rows, Some(col(Matched))))
        val out = setCols.fold(rows.where(!col(Matched)).select(fields.map(col): _*))(
          rows.select(_: _*))
        val nNew = rw.incoming.map(_.count())
        val cdc = if (!snap.cdfEnabled) None else {
          val changes = matchedChanges(rows.where(col(Matched)), setCols)
          Some(rw.incoming.fold(changes)(in =>
            changes.unionByName(in.select(fields.map(col) :+ lit("insert").as("_change_type"): _*))))
        }
        commit(rw.incoming.fold(out)(out.unionByName(_)), cdc,
          metrics(nMatched, nCopied, touched,
            nNew.map(n => "numOutputRows" -> (nCopied + n).toString).toMap),
          touched, Nil, skipDataWrite = rw.incoming.isEmpty && touched.isEmpty)
      } finally rows.unpersist()
    }

    /** Merge-on-read (deletion vectors): matched rows are recorded as
      * positions in a `_dv` sidecar and their files re-added with a
      * [[DvDescriptor]] (remove+add of the same path), never rewritten;
      * re-projected rows (UPDATE) are written as new files in the same
      * commit. Unmatched rows are never read back, copied or rewritten. A
      * file whose every remaining live row matches becomes a plain remove
      * — no descriptor can be "all rows", and pure removes keep
      * `ignoreDeletes` stream semantics intact.
      */
    private def dv(): Long = {
      // candidate rows with (file, position) identity, existing DVs
      // applied — so a matched row is never one an earlier vector masks
      val rows = flagged(DeletionVectors.scanWithPositions(table, snap, candidates))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val matched = rows.where(col(Matched))
        // per-file match counts: O(candidate files) driver rows
        val counts = matched.groupBy("__graft_file").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val nMatched = counts.values.sum
        val affected = candidates.filter(f => counts.contains(f.path))
        val (fullGone, partial) = affected.partition { f =>
          val phys = GraftLog.parseStats(f.stats).map(_.numRecords).getOrElse(-1L)
          val masked = f.dv.map(_.cardinality).getOrElse(0L)
          phys >= 0 && counts(f.path) == phys - masked
        }
        val setCols = rw.set.map(assigned(_, rows, None))
        val cdc = if (snap.cdfEnabled && nMatched > 0) Some(matchedChanges(matched, setCols))
          else None

        // merged position sets for partially-affected files: prior sidecar
        // entries (theirs only) ∪ this commit's new positions — ONE fresh
        // sidecar per commit, so each file reads exactly one sidecar forever
        val readds: Seq[AddFile] = if (partial.isEmpty) Nil else {
          import spark.implicits._
          val partialKeys = partial.map(_.path).toDF("__graft_file")
          val newPos = matched
            .join(broadcast(partialKeys), Seq("__graft_file"), "left_semi")
            .select(col("__graft_file").as("file"), col("__graft_pos").as("pos"))
          val withPrior = partial.filter(_.dv.exists(_.cardinality > 0))
          val merged =
            if (withPrior.isEmpty) newPos
            else newPos.unionByName(
              DeletionVectors.positionsDF(spark, table.path, withPrior))
          val sidecar = DeletionVectors.write(spark, table.path, merged)
          partial.map { f =>
            f.copy(dv = Some(DvDescriptor(sidecar,
              counts(f.path) + f.dv.map(_.cardinality).getOrElse(0L))))
          }
        }

        // remove+add shape: partial files are removed AND re-added (with
        // the new descriptor) in this commit — replay order puts removes
        // before extraActions, so the re-add lands last and wins
        commit(setCols.fold(table.dfForFiles(snap, Nil))(matched.select(_: _*)), cdc,
          metrics(nMatched, 0L, fullGone, Map(
            "numDeletionVectorsAdded" -> partial.count(_.dv.isEmpty).toString,
            "numDeletionVectorsUpdated" -> partial.count(_.dv.isDefined).toString)),
          fullGone ++ partial, readds, skipDataWrite = dropped || affected.isEmpty)
      } finally rows.unpersist()
    }

    /** The table's columns with `set` applied over `frame` — only where
      * `onlyWhere` holds, when given.
      */
    private def assigned(set: Map[String, BoundExpr], frame: DataFrame,
        onlyWhere: Option[Column]): Seq[Column] =
      fields.map { c =>
        set.collectFirst { case (k, v) if k.equalsIgnoreCase(c) =>
          onlyWhere.fold(v.column(frame))(when(_, v.column(frame)).otherwise(col(c))).as(c)
        }.getOrElse(col(c).as(c))
      }

    /** Change rows for the `matched` rows: deletes, or update pre-images
      * and post-images when `setCols` re-projects them.
      */
    private def matchedChanges(matched: DataFrame, setCols: Option[Seq[Column]]): DataFrame = {
      def tagged(cols: Seq[Column], kind: String) =
        matched.select(cols :+ lit(kind).as("_change_type"): _*)
      setCols.fold(tagged(fields.map(col), "delete"))(post =>
        tagged(fields.map(col), "update_preimage").union(tagged(post, "update_postimage")))
    }

    /** Commit metrics: matched rows (deleted or updated), copied rows,
      * removed files — and their bytes when matched rows are dropped —
      * then `extra` and the phase timings.
      */
    private def metrics(matched: Long, copied: Long, removed: Seq[AddFile],
        extra: Map[String, String]): Map[String, String] =
      Map(
        (if (dropped) "numDeletedRows" else "numUpdatedRows") -> matched.toString,
        "numCopiedRows" -> copied.toString,
        "numRemovedFiles" -> removed.size.toString) ++
        (if (dropped) Map("numRemovedBytes" -> removed.map(_.size).sum.toString) else Map.empty) ++
        extra ++ Map(
          "executionTimeMs" -> (System.currentTimeMillis() - t0).toString,
          "scanTimeMs" -> scanTime.toString,
          "rewriteTimeMs" -> (System.currentTimeMillis() - t0 - scanTime).toString)

    private def commit(data: DataFrame, cdc: Option[DataFrame], metrics: Map[String, String],
        removed: Seq[AddFile], readds: Seq[AddFile], skipDataWrite: Boolean): Long =
      TableWriter.write(spark, table.path, data, TableWriter.Append,
        operation = rw.operation,
        operationParameters = rw.parameters,
        extraMetrics = metrics,
        cdc = cdc,
        removeFiles = removed.map(_.path),
        extraActions = readds ++ rw.extraActions,
        readFiles = candidates.map(_.path),
        read = Some(read),
        skipDataWrite = skipDataWrite)
  }

  /** Per-row match flag column of a predicate-scoped rewrite. */
  private val Matched = "__graft_match"

  /** GENERATE symlink_format_manifest — see [[graft.tables.SymlinkManifest]].
    * Set table property `graft.symlinkFormatManifest.enabled=true` to have
    * every commit refresh it automatically (best-effort, post-commit).
    * @return number of data-file entries written
    */
  def generateManifest(table: GraftTable): Int =
    SymlinkManifest.write(table.path, table.snapshot)

  /** The embedded `copyFiles` JSON array (ONE parser for the memory
    * format — copyInto's reconstruction and clone's memory carry must
    * never drift on how the list is encoded).
    */
  private[graft] def parseEmbeddedCopyFiles(json: String): Seq[String] = {
    val n = graft.tables.GraftLog.mapper.readTree(json)
    (0 until n.size()).map(n.get(_).asText())
  }

  /** Where one COPY INTO commit remembers WHICH source files it ingested:
    * ≤ this many file names embed in the CommitInfo as a JSON array (the
    * log line stays O(bytes)); larger batches write a parquet sidecar under
    * `_copy_into/<id>/` and the commit carries only the id.
    */
  private[graft] val CopyIntoEmbedLimit = 512
  private[graft] val CopyIntoDirName = "_copy_into"
  private[graft] val CopyIntoTxnApp = "graft.copyInto"

  /** COPY INTO (Databricks' idempotent bulk-ingestion statement): load the
    * files under `source` into the table EXACTLY ONCE — a re-run (same
    * location, new files landed) ingests only the files no prior COPY INTO
    * commit recorded, so a scheduled retry-prone loader needs no bookkeeping
    * of its own. `force` re-loads everything matched.
    *
    * Ingestion memory lives in the TABLE LOG: each COPY INTO commit records
    * its source-file names (embedded for small batches, a `_copy_into/<id>/`
    * parquet sidecar for large ones), and the loaded set is reconstructed
    * from surviving history. The memory therefore spans the log-retention
    * horizon (`graft.logRetentionDuration`, default 7 days of cleaned-up
    * history — same bounded-tracking posture as Databricks COPY INTO):
    * files older than the horizon whose commits were cleaned up would
    * re-ingest; keep retention above the loader's retry window.
    *
    * Concurrency: the commit carries a [[graft.tables.SetTransaction]]
    * watermark (`graft.copyInto`), so two racing COPY INTOs into one table
    * cannot both land — the loser fails loudly and its re-run skips the
    * winner's files. Scale: the driver holds only the candidate FILE LIST
    * (O(files) metadata, like every planner); sidecar-recorded history is
    * anti-joined distributed, never collected; the data read/write is a
    * plain partitioned append.
    *
    * CSV/JSON parse with the TARGET's schema (Databricks semantics — the
    * table, not inference, defines the contract); parquet self-describes
    * and goes through the normal append schema merge.
    *
    * @return (committed version — the current version when nothing new,
    *         rows inserted, files copied, files skipped)
    */
  def copyInto(
      table: GraftTable,
      source: String,
      format: String,
      pattern: Option[String] = None,
      formatOptions: Map[String, String] = Map.empty,
      force: Boolean = false): (Long, Long, Long, Long) = {
    val spark = table.spark
    // metadata-plane only (version, schema, transactions) — the head past
    // the driver-file limit, like every other non-overwrite write path
    val read = table.resolveRead(-1L)
    val snap = read.fold(identity, _.snapshot)
    val fmt = format.toLowerCase(java.util.Locale.ROOT)
    require(Set("parquet", "csv", "json").contains(fmt),
      s"COPY INTO supports FILEFORMAT = PARQUET | CSV | JSON, got '$format'")
    val srcRoot =
      if (Fs.isRemote(source)) Fs.normalize(source)
      else new java.io.File(source).getAbsolutePath
    val matcher = pattern.map(p =>
      java.nio.file.FileSystems.getDefault.getPathMatcher("glob:" + p))
    // source listing: a single-threaded driver walk below the threshold;
    // past it (a large landing zone — many top-level dirs, e.g. dt=...
    // ingestion partitions), one recursive listing task per top-level dir
    // via the vacuum sweep's fan-out. Same results either way — the
    // hidden-segment and glob filters apply to the SAME relative paths.
    val relPaths: Seq[String] = {
      val topNames = Fs.listChildNames(srcRoot)
      val dirNames = topNames.filter(n => Fs.isDirectory(Fs.child(srcRoot, n)))
      val threshold = spark.conf
        .getOption("spark.graft.copyInto.distributedListingThreshold")
        .map(_.toInt).getOrElse(DefaultDistributedListingThreshold)
      if (dirNames.size < threshold)
        Fs.walkFiles(srcRoot).map(f => Fs.relativize(srcRoot, f))
      else
        topNames.diff(dirNames).filter(n => Fs.exists(Fs.child(srcRoot, n))) ++
          fanOutWalk(spark, srcRoot, dirNames).map(_._1)
    }
    val candidates = relPaths
      .filter { rel =>
        // Spark's listing convention: _metadata/.hidden segments are not data
        rel.split('/').forall(seg => !seg.startsWith("_") && !seg.startsWith(".")) &&
          matcher.forall(_.matches(java.nio.file.Paths.get(rel)))
      }
      .map(rel => Fs.child(srcRoot, rel))
      .sorted

    // the loaded set, from surviving history (embedded lists on the driver,
    // sidecars distributed via anti-join — never collected). Matched by
    // PARAM presence, not operation: a CLONE commit carries the source's
    // ingestion memory under the same keys (Databricks parity — a cloned
    // ingestion table must not re-load what its source already loaded).
    val copyCommits = table.history().collect {
      case (_, ci) if ci.operationParameters.contains("copyFiles") ||
          ci.operationParameters.contains("copyFilesSidecar") =>
        ci.operationParameters
    }
    val embedded: Set[String] =
      copyCommits.flatMap(_.get("copyFiles")).flatMap(parseEmbeddedCopyFiles).toSet
    val sidecarDirs = copyCommits.flatMap(_.get("copyFilesSidecar"))
      .map(id => Fs.child(Fs.child(table.path, CopyIntoDirName), id))
    // a LIVE commit's sidecar must exist — the orphan sweeps only collect
    // dirs referenced by NO surviving commit. Dropping a missing one
    // silently would erase that commit's entire ingestion memory and
    // re-load every file it recorded (duplicate rows, no error) — fail
    // loudly instead; `force` remains the explicit re-load escape hatch.
    val gone = sidecarDirs.filterNot(Fs.isDirectory)
    if (gone.nonEmpty && !force)
      throw new IllegalStateException(
        s"COPY INTO memory sidecar(s) missing under ${table.path}: " +
          s"${gone.map(Fs.fileName).mkString(", ")} — a live commit references " +
          "them, so re-running would silently re-load already-ingested files; " +
          "restore the sidecar dir(s) or re-run with COPY_OPTIONS " +
          "('force'='true') to deliberately re-load everything")
    val toLoad: Seq[String] =
      if (force) candidates
      else {
        val afterEmbedded = candidates.filterNot(embedded.contains)
        if (sidecarDirs.isEmpty || afterEmbedded.isEmpty) afterEmbedded
        else {
          import spark.implicits._
          val loaded = spark.read.parquet(sidecarDirs: _*).select("file")
          afterEmbedded.toDF("file").join(loaded, Seq("file"), "left_anti")
            .as[String].collect().sorted.toSeq
        }
      }
    val skipped = (candidates.size - toLoad.size).toLong
    if (toLoad.isEmpty) return (snap.version, 0L, 0L, skipped)

    val df = fmt match {
      case "parquet" => spark.read.parquet(toLoad: _*)
      case other => spark.read.schema(snap.schema)
        .options(formatOptions).format(other).load(toLoad: _*)
    }
    val memory: Map[String, String] =
      if (toLoad.size <= CopyIntoEmbedLimit)
        Map("copyFiles" -> GraftLog.mapper.writeValueAsString(toLoad.toArray))
      else {
        import spark.implicits._
        val id = java.util.UUID.randomUUID().toString.take(12)
        toLoad.toDF("file").coalesce(4).write
          .parquet(Fs.child(Fs.child(table.path, CopyIntoDirName), id))
        Map("copyFilesSidecar" -> id)
      }
    val nextTxn = snap.transactions.getOrElse(CopyIntoTxnApp, -1L) + 1L
    val v = TableWriter.write(spark, table.path, df, TableWriter.Append,
      operation = "COPY INTO",
      operationParameters = Map(
        "source" -> srcRoot, "format" -> fmt,
        "pattern" -> pattern.getOrElse("*"),
        "force" -> force.toString) ++ memory,
      extraMetrics = Map(
        "numCopiedFiles" -> toLoad.size.toString,
        "numSkippedFiles" -> skipped.toString),
      extraActions = Seq(SetTransaction(CopyIntoTxnApp, nextTxn)),
      read = Some(read))
    val rows = table.log.actionsAt(v)
      .collectFirst { case c: CommitInfo => c.operationMetrics }
      .flatMap(_.get("numOutputRows")).map(_.toLong).getOrElse(0L)
    (v, rows, toLoad.size.toLong, skipped)
  }

  /** Orphaned `_copy_into/<id>/` sidecar dirs (same rule + in-flight age
    * guard as [[bloomOrphanDirs]]): referenced by no surviving COPY INTO
    * commit — aborted ingests, or commits below a log-cleanup horizon.
    */
  private[graft] def copyIntoOrphanDirs(tablePath: String, live: Set[String]): Seq[String] = {
    import graft.tables.Fs
    val root = Fs.child(tablePath, CopyIntoDirName)
    if (!Fs.isDirectory(root)) return Nil
    val cutoff = System.currentTimeMillis() - BloomSidecarMinAgeMillis
    Fs.listChildNames(root)
      .filterNot(live.contains)
      .map(n => Fs.child(root, n))
      .filter { p =>
        try Fs.lastModifiedMillis(p) < cutoff
        catch { case _: java.io.IOException => false }
      }
  }

  /** Partition EVOLUTION: rewrite the table into a new partition-column
    * layout in one transactional overwrite commit. Schema, properties
    * (CDF/constraints/retention) and streaming watermarks are preserved;
    * history is preserved too — time travel to a pre-evolution version
    * replays the old layout's files (vacuum reclaims them on its normal
    * schedule). Readers never see a half-moved table: the layout flips
    * atomically at the commit.
    *
    * Scale: this is a full rewrite by construction (every row changes
    * directory) — one shuffle into the new partitioning, exactly what the
    * operation requires. Run it once per layout decision, not per batch;
    * later appends and merges follow the new metadata automatically.
    *
    * @return the committed version
    */
  def repartitionTable(table: GraftTable, partitionColumns: Seq[String]): Long = {
    val snap = table.snapshot
    val fields = snap.schema.fieldNames
    partitionColumns.foreach(c => require(fields.exists(_.equalsIgnoreCase(c)),
      s"partition column $c is not a table column (have ${fields.mkString(", ")})"))
    require(partitionColumns.map(_.toLowerCase) != snap.metadata.partitionColumns.map(_.toLowerCase),
      s"table is already partitioned by ${partitionColumns.mkString(", ")}")
    TableWriter.write(table.spark, table.path, table.dfForSnapshot(snap),
      TableWriter.Overwrite,
      partitionColumns = partitionColumns,
      explicitPartitioning = true, // empty target = evolve to unpartitioned
      operation = "REPARTITION",
      operationParameters = Map("partitionBy" -> partitionColumns.mkString(",")),
      // the rewrite read the whole current table: a concurrent writer
      // landing first must conflict, not be silently clobbered
      readFiles = snap.files.map(_.path),
      read = Some(Left(snap)))
  }

  /** Selective transactional overwrite — Delta's `replaceWhere`
    * (`df.write.option("replaceWhere", pred).mode("overwrite")`): in ONE
    * commit, delete every existing row matching `predicate` and insert `df`.
    * Existing rows whose predicate evaluates NULL are kept (3-valued logic,
    * same as [[delete]]); every INCOMING row must satisfy the predicate —
    * false or NULL rejects the whole write before anything commits (Delta's
    * replaceWhere constraint check), otherwise "replace region X" could
    * silently scatter rows outside X where later replaceWheres on X would
    * not see them.
    *
    * Scale: file pruning, not a table rewrite — stats/bloom skipping keeps
    * untouched-by-predicate files out of the read set entirely, and only
    * files actually CONTAINING matching rows are rewritten. A
    * partition-aligned predicate therefore rewrites exactly the affected
    * partitions regardless of table size.
    *
    * @return the committed version
    */
  def overwriteWhere(
      table: GraftTable,
      df: DataFrame,
      predicate: String,
      extraActions: Seq[Action] = Nil): Long = {
    val t0 = System.currentTimeMillis()
    val read = table.resolveRead(-1L)
    val snap = read.fold(identity, _.snapshot)
    val fields = snap.schema.fieldNames.toSeq

    // idempotent-write replay guard re-checked against THIS snapshot — the
    // caller's earlier probe and our snap straddle a window where a
    // concurrent same-appId commit could land; the commit's verdict only
    // judges commits after snap, so the watermark must be read from snap
    // itself (same discipline as the append path)
    extraActions.collectFirst {
      case SetTransaction(app, v) if snap.transactions.get(app).exists(_ >= v) =>
        return snap.version
    }

    // incoming columns must cover the table schema (any order; no silent
    // drops or surprise evolution inside a predicate-scoped overwrite)
    val incoming = df.columns.map(_.toLowerCase).toSet
    val missing = fields.filterNot(f => incoming.contains(f.toLowerCase))
    require(missing.isEmpty,
      s"replaceWhere data is missing table column(s) ${missing.mkString(", ")}")
    val extra = df.columns.filterNot(c => fields.exists(_.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"replaceWhere data has column(s) ${extra.mkString(", ")} absent from the " +
        "table schema; replaceWhere does not evolve the schema — drop or " +
        "rename them explicitly")

    // every incoming row must satisfy the predicate — checked INSIDE the
    // staging write projection (codegen'd, no extra pass), like CHECK
    // constraints; persisted so the CDC pass reuses the validated rows
    // instead of re-executing the caller's upstream query
    val newRows = df
      .filter(assert_true(coalesce(expr(predicate), lit(false)),
        lit(s"replaceWhere: written row does not match the predicate [$predicate]")).isNull)
      .select(fields.map(col): _*)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try new PredicateRewrite(table, read, t0, BoundExpr.Text(predicate),
      RowRewrite("WRITE", Map("mode" -> "Overwrite", "predicate" -> s"""["$predicate"]"""),
        incoming = Some(newRows), extraActions = extraActions)).run()
    finally newRows.unpersist()
  }

  /** Predicate-selected files of `snap` (all of them for None), through
    * the same skipping classifier every read uses — shared by OPTIMIZE
    * and REORG.
    */
  private def selectFiles(table: GraftTable, snap: graft.tables.Snapshot,
      where: Option[String]): Seq[graft.tables.AddFile] = where match {
    case None => snap.files
    case Some(cond) =>
      val classified = FileSkipping.classify(table.spark, snap.schema, cond)
      FileSkipping.filesMatching(snap, classified.all,
        Some(BloomIndex.ProbeContext(table.spark, table.path)))
  }

  /** The OPTIMIZE/REORG rewrite tail: read the selected files, re-bin to
    * ~target-size output, commit as a layout-only OPTIMIZE (no CDC
    * footprint — CDF readers and streams skip it) removing them atomically.
    */
  private def rewriteSelected(table: GraftTable, snap: graft.tables.Snapshot,
      selected: Seq[graft.tables.AddFile], targetFileSizeBytes: Long,
      operationParameters: Map[String, String],
      extraMetrics: Map[String, String] = Map.empty): Long = {
    val totalBytes = selected.map(_.size).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt)
    val data = table.dfForFiles(snap, selected).repartition(nOut)
    TableWriter.write(table.spark, table.path, data, TableWriter.Append,
      operation = "OPTIMIZE",
      operationParameters = operationParameters,
      extraMetrics = Map("numRemovedFiles" -> selected.size.toString,
        "numRemovedBytes" -> totalBytes.toString) ++ extraMetrics,
      removeFiles = selected.map(_.path),
      read = Some(Left(snap)))
  }

  /** OPTIMIZE (compaction): rewrite the selected files into
    * ~`targetFileSizeBytes` files. `where` filters by partition predicate.
    * Commit operation is OPTIMIZE with a no-op CDC footprint (compaction
    * changes layout, not data — CDF readers skip it).
    */
  def compact(
      table: GraftTable,
      where: Option[String] = None,
      targetFileSizeBytes: Long = 128L * 1024 * 1024,
      onlyFilesSmallerThan: Long = Long.MaxValue): Long = {
    val snap = table.snapshot
    // bin-packing guard: already-right-sized files are left alone, so
    // repeated OPTIMIZE runs don't churn the whole partition — EXCEPT
    // deletion-vector carriers, which OPTIMIZE always purges (rewriting
    // them reclaims the masked rows' bytes and drops the read-side join)
    val selected = selectFiles(table, snap, where)
      .filter(f => f.size < onlyFilesSmallerThan || f.dv.exists(_.cardinality > 0))
    // nothing to gain from compacting 0 or 1 file — return the current
    // version without committing (repeated OPTIMIZE must not churn the log);
    // a single DV-carrying file is still worth rewriting (the purge)
    val purging = selected.exists(_.dv.exists(_.cardinality > 0))
    if ((selected.size <= 1 && !purging) || selected.map(_.size).sum == 0L)
      return snap.version
    rewriteSelected(table, snap, selected, targetFileSizeBytes,
      Map("predicate" -> where.map(w => s"[$w]").getOrElse("[]")))
  }

  /** REORG TABLE ... APPLY (PURGE) (Delta's statement): rewrite EXACTLY
    * the files whose deletion vectors mask rows — materializing the live
    * rows, dropping the masks, and reclaiming the masked bytes and the
    * read-side DV anti-join — without churning clean files (a plain
    * OPTIMIZE also bin-packs small files; REORG touches only what PURGE
    * needs, so it's the cheap scheduled job on a DV-heavy DML table).
    * `where` narrows by predicate through the same skipping classifier as
    * OPTIMIZE. Commits as OPTIMIZE (layout-only: no CDC footprint,
    * streaming sources skip it; the DVs' deletes were already emitted by
    * their own commits).
    *
    * @return the committed version (current version if nothing carries a DV)
    */
  def reorgPurge(
      table: GraftTable,
      where: Option[String] = None,
      targetFileSizeBytes: Long = 128L * 1024 * 1024): Long = {
    val snap = table.snapshot
    val selected = selectFiles(table, snap, where)
      .filter(_.dv.exists(_.cardinality > 0))
    if (selected.isEmpty) return snap.version
    rewriteSelected(table, snap, selected, targetFileSizeBytes,
      Map("predicate" -> where.map(w => s"[$w]").getOrElse("[]"),
        "applyPurge" -> "true"),
      Map("numDeletionVectorsRemoved" -> selected.size.toString))
  }

  /** OPTIMIZE ZORDER BY: rewrite the selected files CLUSTERED on the Morton
    * (bit-interleaved) order of `cols`, so parquet footer min/max stats
    * become tight on EVERY listed column at once — a range predicate on any
    * of them then skips most files ([[graft.tables.FileSkipping]] does the
    * pruning at plan time). The 100 TB point of z-ordering: a single sort
    * key clusters one dimension perfectly and the others not at all; the
    * z-curve trades a little locality on each dimension for usable locality
    * on all of them.
    *
    * Mechanics: each column is rank-normalized into 2^8 range buckets using
    * approx-quantile boundaries (bounded driver work — 255 doubles per
    * column, computed from a sample pass, never a full sort), bucket bits
    * are interleaved into the z-value, and the rewrite range-partitions +
    * sorts on it — one shuffle of the selected rows. Numeric, date,
    * timestamp and string columns are supported (strings rank by their
    * first-8-byte prefix, order-preservingly).
    *
    * Layout-only like [[compact]]: commits as OPTIMIZE (no CDC footprint,
    * streaming sources skip it), removing the rewritten files atomically.
    *
    * @param numFiles pin the output file count (otherwise sized by
    *                 `targetFileSizeBytes` from the selected bytes)
    * @return the committed version (current version if nothing to rewrite)
    */
  def zorder(
      table: GraftTable,
      cols: Seq[String],
      where: Option[String] = None,
      targetFileSizeBytes: Long = 128L * 1024 * 1024,
      numFiles: Option[Int] = None): Long = {
    require(cols.nonEmpty, "zorder needs at least one column")
    val spark = table.spark
    val snap = table.snapshot
    val schema = snap.schema
    cols.foreach { c =>
      // dotted = nested struct leaf (their per-file stats exist too, so the
      // clustered curve is skippable on every listed dimension); paths
      // through arrays/maps have no one-value-per-row leaf to cluster on
      val f = graft.tables.ColumnMapping.structLeafChain(schema, c.split('.').toSeq)
        .map(_.last).getOrElse(
          throw new IllegalArgumentException(
            s"zorder column $c is not a struct-leaf path in the table schema"))
      f.dataType match {
        case _: org.apache.spark.sql.types.NumericType => ()
        case org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType => ()
        case org.apache.spark.sql.types.StringType => ()
        case dt => throw new IllegalArgumentException(
          s"zorder column $c has unsupported type $dt (numeric/date/timestamp/string only)")
      }
    }
    val selected = where match {
      case None => snap.files
      case Some(cond) =>
        val classified = FileSkipping.classify(spark, schema, cond)
        FileSkipping.filesMatching(snap, classified.all,
          Some(BloomIndex.ProbeContext(spark, table.path)))
    }
    val totalBytes = selected.map(_.size).sum
    if (selected.isEmpty || totalBytes == 0L) return snap.version
    val data = table.dfForFiles(snap, selected)

    // bit budget shrinks when many columns share the 63 usable Long bits
    // (a fixed 8 would alias bit positions past 8 columns and flip the
    // sign bit at exactly 8 — silently scrambling the curve)
    val zBits = zBitsPerColumn(cols.size)
    // Order-preserving numeric rank view of a column: numerics/dates cast
    // straight to double; strings map via their first 8 UTF-8 bytes read as
    // a big-endian unsigned integer (byte-lexicographic order = numeric
    // order, so quantile bucketing clusters by string prefix — the same
    // truncation Delta's z-order applies to strings).
    def rankView(c: String): org.apache.spark.sql.Column =
      graft.tables.ColumnMapping.fieldChain(schema, c.split('.').toSeq)
        .get.last.dataType match {
        case org.apache.spark.sql.types.StringType =>
          conv(rpad(substring(hex(col(c)), 1, 16), 16, "0"), 16, 10).cast("double")
        case _ => col(c).cast("double")
      }
    // 2^bits-1 inner boundaries per column from ONE multi-column
    // approximate-quantile pass (relativeError 0.01 — bucket edges only
    // need to be roughly equi-depth for clustering, not exact ranks); the
    // bucket of a row is the count of boundaries at or below its value
    // (a codegen'd chain of comparisons — no join, no second shuffle)
    val probs = (1 until (1 << zBits)).map(_.toDouble / (1 << zBits)).toArray
    // positional aliases: a dotted nested path is not a valid column NAME
    // for the quantile lookup (it would re-parse as a field access)
    val rankNames = cols.indices.map(i => s"__graft_z$i")
    val casted = data.select(
      cols.zip(rankNames).map { case (c, n) => rankView(c).as(n) }: _*)
    val allBoundaries = casted.stat.approxQuantile(rankNames.toArray, probs, 0.01)
    val zExpr = cols.zipWithIndex.map { case (c, ci) =>
      // rank = count of boundaries ≤ value via the codegen'd binary-search
      // BucketRank (fold-equivalent incl. null→0/NaN→0, pinned by spec).
      // History of this line: a 255-comparison when-chain compiled
      // multi-thousand-node janino ASTs (seconds, paid twice); the array
      // fold that replaced it was an INTERPRETED higher-order function that
      // re-evaluated the rank view per boundary and per interleave bit
      val bucket = org.apache.spark.sql.graft.SparkBridge.column(
        graft.functions.BucketRank(
          org.apache.spark.sql.graft.SparkBridge.expression(rankView(c)),
          allBoundaries(ci).distinct))
      // interleave: bit i of column ci lands at position i * nCols + ci
      (0 until zBits).map(i =>
        shiftleft(shiftright(bucket, i).bitwiseAND(lit(1L)), i * cols.size + ci))
        .reduce[org.apache.spark.sql.Column](_ bitwiseOR _)
    }.reduce[org.apache.spark.sql.Column](_ bitwiseOR _)

    val nOut = numFiles.getOrElse(
      math.max(1, math.ceil(totalBytes.toDouble / targetFileSizeBytes).toInt))
    // hive-partitioned tables: lead the range key with the partition columns
    // so each task holds contiguous partition values and the writer's
    // per-value split doesn't shatter the z-clustering into tiny files
    val partCols = snap.metadata.partitionColumns
    val clustered =
      if (cols.size == 1) {
        // one clustering column: plain range partitioning + sort is strictly
        // better than any space-filling curve (fully disjoint file ranges)
        val key = partCols.map(col) :+ col(cols.head)
        data.repartitionByRange(nOut, key: _*).sortWithinPartitions(key: _*)
      } else {
        val rangeKey = partCols.map(col) :+ col("__z")
        data.withColumn("__z", zExpr)
          .repartitionByRange(nOut, rangeKey: _*)
          .sortWithinPartitions(rangeKey: _*)
          .drop("__z")
      }
    TableWriter.write(spark, table.path, clustered, TableWriter.Append,
      operation = "OPTIMIZE",
      operationParameters = Map(
        "predicate" -> where.map(w => s"[$w]").getOrElse("[]"),
        "zOrderBy" -> cols.mkString("[", ",", "]")),
      extraMetrics = Map("numRemovedFiles" -> selected.size.toString,
        "numRemovedBytes" -> totalBytes.toString),
      removeFiles = selected.map(_.path),
      read = Some(Left(snap)))
  }

  /** FSCK REPAIR TABLE (Delta's shape): drop snapshot references to data
    * files that no longer exist in storage (manual deletion, a botched
    * external cleanup), so scans stop dying on FileNotFound. The repair is
    * a metadata-only commit removing the dangling references — an explicit
    * acknowledgment of data loss, which is why it is never automatic and
    * why the commit carries no CDC (the lost rows cannot be reconstructed;
    * CDF readers fail loudly over this range rather than fabricate).
    *
    * @return the table-relative paths of the dangling references (empty =
    *         table is clean); with `dryRun` nothing is committed
    */
  def fsck(table: GraftTable, dryRun: Boolean = false): Seq[String] = {
    import java.nio.file.Files
    val snap = table.snapshot
    // a file is unreadable when its data bytes are gone OR its deletion
    // vector sidecar is (the live-row set is no longer computable — keeping
    // the reference would resurrect deleted rows or fail every scan)
    val missing = snap.files.filterNot { f =>
      graft.tables.Fs.exists(GraftTable.resolveDataPath(table.path, f.path)) &&
        f.dv.forall(d => graft.tables.Fs.exists(GraftTable.resolveDataPath(table.path, d.path)))
    }
    if (!dryRun && missing.nonEmpty) {
      TableWriter.write(table.spark, table.path,
        table.dfForFiles(snap, Nil), // no data written; satisfies the signature
        TableWriter.Append,
        operation = "FSCK",
        operationParameters = Map("dryRun" -> "false"),
        extraMetrics = Map(
          "numRemovedFiles" -> missing.size.toString,
          "numMissingFiles" -> missing.size.toString),
        removeFiles = missing.map(_.path),
        // the decision read the whole file list: a concurrent winner
        // re-adding or rewriting one of these files invalidates it
        readFiles = snap.files.map(_.path),
        read = Some(Left(snap)),
        skipDataWrite = true)
    }
    missing.map(_.path)
  }

  /** ANALYZE (stats backfill): harvest parquet FOOTER stats — numRecords +
    * per-column min/max/nullCount — for every live file whose log entry
    * carries none (files landed by foreign writers that append bare
    * AddFile actions), and re-add those entries with stats in one
    * metadata-only commit. Zero data bytes move; after the commit the
    * files participate in min/max skipping, metadata-only counts and
    * stats-served aggregates like every graft-written file. Footer reads
    * fan out across a bounded thread pool (footers, not data).
    *
    * Also re-harvests files whose stats PREDATE the `tightBounds` field:
    * in pre-field logs a CONVERT-harvested foreign file (possibly
    * truncated string bounds) is indistinguishable from a graft-written
    * one, and absent defaults to tight on read — so the re-stamp marks
    * them all conservatively non-tight (skipping keeps working; only
    * metadata-only string min/max answers are declined for them).
    *
    * @return number of files backfilled (0 = nothing to do, no commit)
    */
  def computeStats(table: GraftTable): Int = {
    val spark = table.spark
    val snap = table.snapshot
    val missing = snap.files.filter(f => GraftLog.parseStats(f.stats).isEmpty ||
      !GraftLog.statsTightBoundsExplicit(f.stats))
    if (missing.isEmpty) return 0
    val conf = spark.sessionState.newHadoopConf()
    val statsSel = ParquetStats.statsColumnsOf(snap.metadata.properties, snap.schema)
    val readd = TableWriter.harvestParallel(missing) { f =>
      // stat-less files came from a FOREIGN writer: string min/max may be
      // truncated bounds — mark non-tight (skipping only, never answered).
      // bloom/bloomSidecar live only in the OLD stats (the footer knows
      // nothing of them) and MUST carry over: a bloom-indexed file written
      // before the tightBounds field existed is re-stamped here, and
      // dropping its reference would both blind the probe and let the
      // sidecar-orphan GC collect the index permanently
      val old = GraftLog.parseStats(f.stats)
      val harvested = ParquetStats.forFile(
        GraftTable.resolveDataPath(table.path, f.path).toString, conf, statsSel)
        .copy(tightBounds = false,
          bloom = old.map(_.bloom).getOrElse(Map.empty),
          bloomSidecar = old.flatMap(_.bloomSidecar))
      f.copy(stats = GraftLog.renderStats(harvested))
    }
    TableWriter.write(spark, table.path,
      table.dfForFiles(snap, Nil), // no data written; satisfies the signature
      TableWriter.Append,
      operation = "COMPUTE STATS",
      extraMetrics = Map("numFilesAnalyzed" -> readd.size.toString),
      extraActions = readd,
      // the backfill read these files' footers and the decision read the
      // current file list: concurrent rewrites of them must conflict
      readFiles = missing.map(_.path),
      read = Some(Left(snap)),
      skipDataWrite = true)
    readd.size
  }

  /** RESTORE TABLE TO TIMESTAMP (Delta's `RESTORE ... TO TIMESTAMP AS OF`):
    * resolves to the LATEST version whose monotonized commit timestamp is
    * at-or-before `timestamp` (same session-timezone parsing and the same
    * resolution rule as the `timestampAsOf` reader option), then delegates
    * to the version restore.
    */
  def restoreToTimestamp(table: GraftTable, timestamp: String): Long = {
    val tz = table.spark.sessionState.conf.sessionLocalTimeZone
    val millis = graft.sources.GraftDataSource.parseTimestampMillis(timestamp.trim, tz)
    val target = table.log.versionAtOrBefore(millis)
      .getOrElse(throw new IllegalArgumentException(
        s"cannot restore ${table.path}: '$timestamp' is before the table's first commit"))
    restore(table, target)
  }

  /** RESTORE TABLE TO VERSION (Delta's `restoreToVersion`): one commit makes
    * the table state AT `version` current again — files present then but
    * removed since are re-added (metadata only; the bytes are still on disk
    * until vacuum), files added since are removed, and the table METADATA
    * (schema, partitioning, properties) reverts to the target version's.
    * History is preserved: the restore is a new version on top, so the
    * states it undid remain time-travelable.
    *
    * With CDF enabled IN THE RESTORED STATE (the commit reverts properties
    * too, so the target's CDF flag governs it) downstream CDF readers and
    * streams see the restore as data change, not a gap: disappearing rows
    * read as `delete`, reappearing rows as `insert`, SYNTHESIZED at read
    * time from this commit's remove/add actions (whole files both ways —
    * a restore never rewrites rows). The commit writes no change files.
    *
    * Errors if any target-version file was already vacuumed (the state is
    * no longer reconstructible). Concurrency: the restore's read footprint
    * is the entire current table, so any concurrent commit that REMOVED or
    * REWROTE a file (merge, delete, OPTIMIZE) or changed metadata aborts
    * it; a concurrent blind append serializes AFTER the restore — its rows
    * survive (WriteSerializable: the outcome is as if the append ran on
    * the restored table).
    *
    * @return the committed version (current version for a no-op restore)
    */
  def restore(table: GraftTable, version: Long): Long = {
    import java.nio.file.{Files, Paths}
    val spark = table.spark
    val log = table.log
    val cur = table.snapshot
    if (version == cur.version) return cur.version
    val target = log.snapshot(version)
    // a target file is reconstructible only when its data bytes AND its
    // deletion-vector sidecar (if the target entry carries one) both still
    // exist — a swept dv dir makes the target's live-row set uncomputable,
    // the same rule fsck applies
    val missing = target.files.filterNot(f =>
      graft.tables.Fs.exists(GraftTable.resolveDataPath(table.path, f.path)) &&
        f.dv.forall(d =>
          graft.tables.Fs.exists(GraftTable.resolveDataPath(table.path, d.path))))
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"cannot restore ${table.path} to version $version: ${missing.size} of its " +
          s"files were vacuumed (first: ${missing.head.path}); the state is gone")
    // diff by (path, deletion vector), NOT by path alone: a DV delete
    // keeps the file's path and attaches a dv descriptor, so a path-only
    // diff would leave the CURRENT DV-masked entry in the "restored" state
    // — silently missing the rows the target version still had. A file
    // whose dv changed both removes (current entry) and re-adds (target
    // entry) in this one commit; the fold applies adds after removes, the
    // same same-path shape a DV delete itself commits.
    val curKeys = cur.files.map(f => (f.path, f.dv)).toSet
    val tgtKeys = target.files.map(f => (f.path, f.dv)).toSet
    val reAdd = target.files.filterNot(f => curKeys.contains((f.path, f.dv)))
    val drop = cur.files.filterNot(f => tgtKeys.contains((f.path, f.dv)))

    // change rows for CDF consumers — rows leaving the table (files added
    // since `version`) as deletes, rows returning (files removed since) as
    // inserts — are SYNTHESIZED AT READ TIME from this commit's remove/add
    // actions (ChangeDataFeedHelper / the stream source), exactly like
    // REPLACE and INSERT OVERWRITE: a restore's remove/re-add sets are
    // whole files, so the actions fully determine the change rows, and
    // writing them here would be O(diff) write amplification per restore.
    // Synthesis requires the removed files to still exist — the readers'
    // vacuum-horizon guard fails loudly past that point (written change
    // rows would have survived vacuum; that tradeoff is documented at the
    // REPLACE synthesis site and in SURVEY's CDF section).
    TableWriter.write(spark, table.path,
      // no data is written; the frame only satisfies the signature
      table.dfForFiles(target, Nil),
      TableWriter.Append,
      operation = "RESTORE",
      operationParameters = Map("version" -> version.toString),
      extraMetrics = Map(
        "numRestoredFiles" -> reAdd.size.toString,
        "numRemovedFiles" -> drop.size.toString,
        "restoredFilesSize" -> reAdd.map(_.size).sum.toString),
      extraActions = reAdd,
      removeFiles = drop.map(_.path),
      // the decision read the WHOLE current table: any concurrent winner
      // conflicts (no silent clobbering of a commit that landed mid-restore)
      readFiles = cur.files.map(_.path),
      read = Some(Left(cur)),
      skipDataWrite = true,
      metadataOverride = Some(target.metadata))
  }

  /** CREATE OR REPLACE TABLE core (Delta's `REPLACE TABLE [AS SELECT]`):
    * ONE commit atomically swaps the table's contents AND definition —
    * every current file is removed, the new data's files (if any) are
    * added, and the committed metadata is the NEW schema / partitioning /
    * properties (prior properties — and with them prior CHECK constraints,
    * generated/default/identity declarations, column mapping — do not
    * carry over; session default properties apply as on a fresh create).
    * History is preserved: the replace is a new version on top, every
    * prior state stays time-travelable.
    *
    * With CDF enabled IN THE REPLACED STATE (like RESTORE, the committed
    * property regime governs), CDF readers and streams see the
    * re-materialization as full change content — every prior row `delete`,
    * every new row `insert` — SYNTHESIZED at read time from the commit's
    * remove/add actions; the commit itself writes no `_change_data`
    * (Delta's overwrite posture — see the write-amplification note in the
    * method body). Post-vacuum, the delete side is gone and CDF reads of
    * this version fail loudly.
    *
    * Concurrency: the replace's read footprint is the entire current
    * table (RESTORE's discipline) — a concurrent commit that removed or
    * rewrote any file, or changed metadata, aborts it; a concurrent blind
    * append serializes before it and is replaced with everything else.
    *
    * @param data    the new contents (None = data-less `REPLACE TABLE` DDL:
    *                the table becomes empty with the declared schema)
    * @param schema  the declared schema for a data-less replace (ignored
    *                when `data` is given — the frame's schema governs)
    * @return the committed version
    */
  def replaceTable(
      table: GraftTable,
      data: Option[DataFrame],
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      partitionColumns: Seq[String] = Nil,
      properties: Map[String, String] = Map.empty,
      operation: String = "CREATE OR REPLACE TABLE AS SELECT"): Long = {
    val spark = table.spark
    val cur = table.snapshot
    require(data.nonEmpty || schema.nonEmpty,
      "REPLACE TABLE needs the new contents or a declared schema")
    // CDF: the replace commit writes NO change rows — readers synthesize
    // every prior row as `delete` (from the removed files, on disk until
    // vacuum) and every new row as `insert` (from the added files) at READ
    // time, Delta's overwrite posture (graft.log.ChangeFeedPlanner, shared
    // by the batch change feed and the stream source). Materializing them
    // here would read the whole old table and double-write the new one —
    // O(old + new) write amplification per replace. Tradeoff: written
    // change rows would survive vacuum of the old data files; synthesized
    // ones fail loudly post-vacuum instead of answering wrong.
    val frame = data.getOrElse(
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.get))
    TableWriter.write(spark, table.path, frame, TableWriter.Overwrite,
      partitionColumns = partitionColumns,
      explicitPartitioning = true,
      properties = properties,
      replaceProperties = true,
      operation = operation,
      extraMetrics = Map("numRemovedFiles" -> cur.files.size.toString),
      readFiles = cur.files.map(_.path),
      read = Some(Left(cur)),
      skipDataWrite = data.isEmpty)
  }

  /** VACUUM by retention DURATION (Delta's public vacuum shape): the horizon
    * is the newest version whose commit timestamp is at-or-before
    * `now - retainHours` — i.e. the table state a reader pinned at the
    * cutoff instant would see; every version younger than the cutoff stays
    * time-travelable. When every commit is younger than the cutoff, nothing
    * is vacuumed. Delegates to the version-horizon vacuum overload.
    */
  def vacuum(table: GraftTable, retainHours: Double): Int =
    vacuum(table, retainHours, lite = false)

  /** [[vacuum(table:GraftTable,retainHours:Double)* vacuum]] with an
    * explicit mode: `lite = true` (Delta's `VACUUM ... LITE`) derives dead
    * files from the LOG ONLY — no directory listing, so untracked write
    * orphans are not swept. The cheap mode for frequent scheduled vacuums
    * of huge tables; run a FULL vacuum periodically to collect orphans.
    */
  def vacuum(table: GraftTable, retainHours: Double, lite: Boolean): Int =
    retentionHorizon(table, retainHours).map(vacuum(table, _, lite)).getOrElse(0)

  /** [[vacuumDryRun(table:GraftTable,retainVersion:Long)* vacuumDryRun]]
    * with the horizon resolved from a retention duration, exactly as
    * `vacuum(table, retainHours)` resolves it. None-horizon (everything
    * younger than the cutoff) plans nothing.
    */
  def vacuumDryRun(table: GraftTable, retainHours: Double): Seq[String] =
    vacuumDryRun(table, retainHours, lite = false)

  /** Duration-resolved dry run with an explicit LITE/FULL mode. */
  def vacuumDryRun(table: GraftTable, retainHours: Double, lite: Boolean): Seq[String] =
    retentionHorizon(table, retainHours).map(vacuumDryRun(table, _, lite)).getOrElse(Nil)

  /** Version horizon a `retainHours` retention resolves to: the latest
    * version whose MONOTONIZED commit timestamp is at-or-before the cutoff
    * (a version can never fall below the horizon while an older version
    * still looks younger than the cutoff). None = every commit is younger.
    */
  private def retentionHorizon(table: GraftTable, retainHours: Double): Option[Long] = {
    require(retainHours >= 0, s"retainHours must be >= 0, got $retainHours")
    val cutoff = System.currentTimeMillis() - (retainHours * 3600 * 1000).toLong
    table.log.versionAtOrBefore(cutoff)
  }

  /** VACUUM with the table's configured retention
    * (`graft.logRetentionDuration`, `"interval <n> <hours|days|weeks>"` —
    * Delta's property vocabulary), defaulting to
    * [[DefaultLogRetentionHours]] (7 days).
    */
  def vacuum(table: GraftTable): Int = vacuum(table, configuredRetentionHours(table))

  /** Configured-retention vacuum with an explicit LITE/FULL mode. */
  def vacuum(table: GraftTable, lite: Boolean): Int =
    vacuum(table, configuredRetentionHours(table), lite)

  /** Dry run at the table's configured retention (same resolution as
    * [[vacuum(table:GraftTable)* vacuum]] with no arguments).
    */
  def vacuumDryRun(table: GraftTable): Seq[String] =
    vacuumDryRun(table, configuredRetentionHours(table))

  /** Configured-retention dry run with an explicit LITE/FULL mode. */
  def vacuumDryRun(table: GraftTable, lite: Boolean): Seq[String] =
    vacuumDryRun(table, configuredRetentionHours(table), lite)

  /** The no-arg vacuum's retention: ONE horizon governs both data files
    * and log files. Delta separates `deletedFileRetentionDuration` (data)
    * from `logRetentionDuration` (log) — a deliberate graft divergence:
    * our vacuum drops log versions below the horizon in the same pass, so
    * no retained log entry can ever reference deleted bytes (Delta's
    * split instead lets time travel below the data horizon fail at scan
    * time with missing files). One knob, one failure mode: resolution
    * below the horizon errors at the LOG, loudly and immediately.
    */
  private def configuredRetentionHours(table: GraftTable): Double =
    table.snapshot.metadata.properties
      .get(LogRetentionProperty).map(parseRetentionHours)
      .getOrElse(DefaultLogRetentionHours)

  /** Commit-LOG retention (Delta's metadata cleanup, the half of
    * `logRetentionDuration` vacuum does not cover): delete version files
    * and superseded checkpoints BELOW `retainVersion`, after ensuring a
    * checkpoint at the horizon so every surviving version still replays as
    * a checkpoint fold + surviving tail. Returns the number of log files
    * deleted.
    *
    * Without this a long-lived table's `_graft_log` grows one JSON per
    * commit forever — a streaming ingest committing every 30 s is ~1M files
    * after a year, and every `versions()` listing pays for all of them.
    * After cleanup, time travel and CDF reads below the horizon raise their
    * usual missing-version errors (exactly Delta's contract when the log is
    * cleaned); everything at or above the horizon is untouched.
    */
  def cleanupMetadata(table: GraftTable, retainVersion: Long): Int = {
    val log = table.log
    val vs = log.versions()
    require(vs.contains(retainVersion),
      s"version $retainVersion has no log file (already cleaned?)")
    val doomed = vs.count(_ < retainVersion)
    if (doomed == 0) return 0
    val staleCkpts = log.checkpointVersions().count(_ < retainVersion)
    // the explicit path delegates to VACUUM at the same horizon: data files
    // reachable only through the doomed versions must go WITH their log
    // entries (once those are deleted no later vacuum can discover them),
    // and vacuum already fans large delete sets out as a Spark job, drops
    // the version files below the horizon, and leaves the horizon version
    // self-contained for snapshot replay
    vacuum(table, retainVersion)
    doomed + staleCkpts
  }

  /** [[cleanupMetadata(table:GraftTable,retainVersion:Long)* cleanupMetadata]]
    * with the horizon resolved from the table's configured
    * `graft.logRetentionDuration` (default 7 days), mirroring the no-arg
    * vacuum. Versions younger than the cutoff keep their log files.
    */
  def cleanupMetadata(table: GraftTable): Int =
    table.log.retentionHorizon(
      table.snapshot.metadata.properties, System.currentTimeMillis())
      .map(cleanupMetadata(table, _)).getOrElse(0)

  val LogRetentionProperty: String = GraftLog.LogRetentionProperty
  val DefaultLogRetentionHours: Double = GraftLog.DefaultLogRetentionHours

  /** `"interval <n> <unit>"` (unit ∈ hour/day/week, plural accepted, case
    * insensitive) → hours. Loud on anything else: a silently misread
    * retention would delete history.
    */
  private[graft] def parseRetentionHours(s: String): Double =
    GraftLog.parseRetentionHours(s)

  /** The files [[vacuum(table:GraftTable,retainVersion:Long)* vacuum]]
    * WOULD physically delete at this horizon — distinct table-relative
    * data/change files added below it and referenced by no retained
    * snapshot, minus external shallow-clone references (the real vacuum
    * skips those too). Read-only: no commit, no deletion, no horizon
    * rewrite — the production "VACUUM DRY RUN" safety check.
    */
  def vacuumDryRun(table: GraftTable, retainVersion: Long): Seq[String] =
    vacuumDryRun(table, retainVersion, lite = false)

  def vacuumDryRun(table: GraftTable, retainVersion: Long, lite: Boolean): Seq[String] = {
    val plan = vacuumPlan(table.log, retainVersion)
    // report exactly what vacuum would count: external clone references are
    // skipped, already-missing bytes (fsck'd tables) delete nothing, and
    // orphaned bloom-sidecar files and untracked write orphans are deleted
    // too
    val data = plan.deadFiles
      .filterNot(GraftTable.isExternalPath)
      .filter(rel => graft.tables.Fs.exists(graft.tables.Fs.child(table.path, rel)))
    val untracked =
      if (lite) Nil
      else {
        val tracked: Set[String] = (plan.scan.retainedFiles.map(_.path) ++
          plan.deadFiles ++ plan.scan.liveCdc).toSet
        untrackedFiles(table, tracked, untrackedCutoff(table, retainVersion))
      }
    val sidecars = (bloomOrphanDirs(table.path, plan.liveSidecars) ++
      dvOrphanDirs(table.path, plan.liveDvDirs)).flatMap { dir =>
      graft.tables.Fs.walkFiles(dir)
        .map(p => graft.tables.Fs.relativize(table.path, p))
    }
    (data ++ untracked).distinct ++ sidecars
  }

  /** Bloom-sidecar dirs referenced by NO retained file and older than the
    * in-flight-commit age guard — the set vacuum physically collects.
    * AGE GUARD: attach() writes the sidecar BEFORE its commit becomes
    * visible, so a young unreferenced dir may belong to a concurrent
    * commit; only dirs older than [[BloomSidecarMinAgeMillis]] qualify.
    */
  private[graft] def bloomOrphanDirs(tablePath: String, liveSidecars: Set[String]): Seq[String] = {
    import graft.tables.Fs
    val bloomRoot = Fs.child(tablePath, graft.tables.BloomIndex.SidecarDirName)
    if (!Fs.isDirectory(bloomRoot)) return Nil
    val cutoff = System.currentTimeMillis() - BloomSidecarMinAgeMillis
    Fs.listChildNames(bloomRoot)
      .filterNot(liveSidecars.contains)
      .map(n => Fs.child(bloomRoot, n))
      .filter { p =>
        try Fs.lastModifiedMillis(p) < cutoff
        catch { case _: java.io.IOException => false }
      }
  }

  /** Abandoned V2 streaming-epoch staging dirs
    * (`.graft-stream-epoch-<uuid>/` under the table — see
    * [[graft.streaming.GraftStreamingWrite]]): a failed epoch ATTEMPT whose
    * abort never ran (driver crash) leaves its staging behind; scans ignore
    * dotted dirs, so the only cost is disk. Liveness is the NEWEST mtime
    * across the whole staging TREE — writing into already-created partition
    * files does not touch the root dir's mtime, so a root-only check would
    * sweep a live long-running epoch — under a deliberately generous age
    * guard ([[StreamStagingMinAgeMillis]]: even a slow epoch flushes a row
    * group within hours; an abandoned dir can wait that long to reclaim).
    */
  private[graft] def streamStagingOrphanDirs(tablePath: String): Seq[String] = {
    import graft.tables.Fs
    if (!Fs.isDirectory(tablePath)) return Nil
    val cutoff = System.currentTimeMillis() - StreamStagingMinAgeMillis
    // ANY filesystem race during the walk (dir consumed by a committing
    // epoch, file vanishing mid-iteration — surfacing as IOException OR
    // UncheckedIOException) means the dir is LIVE: report it too fresh to
    // sweep rather than crashing the vacuum mid-sweep
    def newestMtime(dir: String): Long =
      try {
        // the FULL tree — subdirectory mtimes included: a task that just
        // created an empty partition dir (writerFor's mkdirs, before the
        // part file materializes) is live activity a file-only walk misses;
        // mtimes ride the listing itself (one listStatus per dir, no
        // per-entry re-stat)
        Fs.walkTreeMtimes(dir).foldLeft(0L) { case (acc, (_, m)) => math.max(acc, m) }
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => Long.MaxValue
      }
    Fs.listChildNames(tablePath)
      .filter(_.startsWith(".graft-stream-epoch-"))
      .map(n => Fs.child(tablePath, n))
      .filter(p => newestMtime(p) < cutoff)
  }

  /** Minimum whole-tree idle age before an abandoned streaming-epoch
    * staging dir is swept (see [[streamStagingOrphanDirs]]).
    */
  val StreamStagingMinAgeMillis: Long = 6 * 60 * 60 * 1000L

  private case class VacuumPlan(
      deadFiles: Seq[String], dropVersions: Seq[Long], liveSidecars: Set[String],
      liveDvDirs: Set[String], scan: GraftLog#RetentionScan)

  private def vacuumPlan(log: GraftLog, retainVersion: Long): VacuumPlan = {
    // the retained/dead rule lives in ONE place (GraftLog.retentionScan —
    // shared with the write path's auto log cleanup); this wrapper derives
    // the sidecar sets vacuum additionally sweeps
    val scan = log.retentionScan(retainVersion)
    val liveSidecars: Set[String] =
      scan.retainedFiles.flatMap(f => GraftLog.parseStats(f.stats).flatMap(_.bloomSidecar)).toSet
    val liveDvDirs: Set[String] = scan.retainedFiles.flatMap(_.dv.map(_.path)).toSet
    val dropVersions = log.versions().filter(_ < retainVersion)
    VacuumPlan(scan.deadData, dropVersions, liveSidecars, liveDvDirs, scan)
  }

  /** Deletion-vector sidecar dirs under `_dv/` referenced by NO retained
    * file — same orphan discipline (and in-flight age guard) as the bloom
    * sidecars: a young unreferenced dir may belong to a concurrent DELETE
    * whose commit has not landed yet.
    */
  private[graft] def dvOrphanDirs(tablePath: String, liveDvDirs: Set[String]): Seq[String] = {
    import graft.tables.Fs
    val dvRoot = Fs.child(tablePath, graft.tables.DeletionVectors.DirName)
    if (!Fs.isDirectory(dvRoot)) return Nil
    val liveNames = liveDvDirs
      .filterNot(GraftTable.isExternalPath) // clone refs point into the source
      .map(p => p.split('/').last)
    val cutoff = System.currentTimeMillis() - BloomSidecarMinAgeMillis
    Fs.listChildNames(dvRoot)
      .filterNot(liveNames.contains)
      .map(n => Fs.child(dvRoot, n))
      .filter { p =>
        try Fs.lastModifiedMillis(p) < cutoff
        catch { case _: java.io.IOException => false }
      }
  }

  /** VACUUM: physically delete data/change files no longer referenced by any
    * snapshot at or above `retainVersion`, plus UNTRACKED files (listed in
    * the table dir, referenced by no log version, older than the horizon
    * and the in-flight age guard — the orphans of crashed or race-losing
    * writers, which no log-derived dead set can ever discover), then drop
    * log files below the horizon.
    * Time travel and CDF reads below the horizon stop working — exactly the
    * failure mode the ChangeDataFeedHelper recovery paths (C3/C4) detect.
    *
    * @return number of files deleted
    */
  /** Dead-file count at which vacuum's deletes fan out as a Spark job
    * instead of a driver loop (object-store deletes are API round-trips;
    * see the delete step below). Overridable for tests via the
    * `spark.graft.vacuum.distributedDeleteThreshold` session conf.
    */
  val DefaultDistributedDeleteThreshold = 10000

  private def distributedDeleteThreshold(table: GraftTable): Int =
    table.spark.conf
      .getOption("spark.graft.vacuum.distributedDeleteThreshold")
      .map(_.toInt).getOrElse(DefaultDistributedDeleteThreshold)

  /** Minimum age an UNTRACKED file must reach before vacuum may sweep it —
    * the writer moves data files into the table dir BEFORE its OCC commit,
    * so a young unreferenced file may belong to an in-flight commit.
    * Overridable for tests via `spark.graft.vacuum.untrackedMinAgeMillis`.
    */
  val DefaultUntrackedMinAgeMillis: Long = 60 * 60 * 1000L

  private def untrackedMinAge(table: GraftTable): Long =
    table.spark.conf.getOption("spark.graft.vacuum.untrackedMinAgeMillis")
      .map(_.toLong).getOrElse(DefaultUntrackedMinAgeMillis)

  /** Top-level directory count at which the untracked-file walk fans out
    * as a Spark job (one task per directory) instead of a driver walk —
    * at 100 TB (~10⁵–10⁶ files across thousands of partition dirs) one
    * driver thread paging an object-store listing is the vacuum
    * bottleneck; executor-parallel per-directory walks are not.
    */
  val DefaultDistributedListingThreshold = 64

  private def distributedListingThreshold(table: GraftTable): Int =
    table.spark.conf.getOption("spark.graft.vacuum.distributedListingThreshold")
      .map(_.toInt).getOrElse(DefaultDistributedListingThreshold)

  /** (table-relative path, mtime) of every sweep-ELIGIBLE file under the
    * table root, one listing pass: non-hidden top-level segments plus
    * `_change_data` (untracked change files are ordinary write orphans).
    * Hidden segments (`_`/`.` prefixed) are excluded — the log is the
    * source of truth, and the sidecar families (`_bloom`, `_dv`,
    * `_copy_into`, streaming-epoch staging, symlink manifests) each have
    * their own age-guarded orphan discipline in this file.
    */
  private def sweepListing(table: GraftTable): Seq[(String, Long)] = {
    import graft.tables.Fs
    val root = table.path
    val eligible = Fs.listChildNames(root).filter(n =>
      (!n.startsWith("_") && !n.startsWith(".")) || n == GraftLog.CdcDirName)
    val (dirs, files) = eligible.partition(n => Fs.isDirectory(Fs.child(root, n)))
    val top = files.map(n => (n, Fs.lastModifiedMillis(Fs.child(root, n))))
    val nested: Seq[(String, Long)] =
      if (dirs.size < distributedListingThreshold(table))
        dirs.flatMap(d => Fs.walkFilesWithMtime(Fs.child(root, d))
          .map { case (p, m) => (Fs.relativize(root, p), m) })
      else fanOutWalk(table.spark, root, dirs)
    top ++ nested
  }

  /** Recursive (relative path, mtime) listing of `dirs` under `base`, one
    * task per dir, with the DRIVER's hadoop conf shipped along
    * (executor-default Configurations miss spark.hadoop.* scheme
    * registrations and credentials) — the same discipline as the
    * distributed delete. Shared by the vacuum untracked sweep and the
    * COPY INTO source listing: a 100 TB landing zone (~10⁶ files) walked
    * single-threaded from the driver is one filesystem round-trip per
    * file; here each top-level dir is one executor-side recursive listing.
    */
  private[graft] def fanOutWalk(
      spark: org.apache.spark.sql.SparkSession,
      base: String,
      dirs: Seq[String]): Seq[(String, Long)] = {
    if (dirs.isEmpty) return Nil
    val confBox = new org.apache.spark.sql.graft.SparkBridge.ConfBox(
      spark.sessionState.newHadoopConf())
    val rootUriPath = new org.apache.hadoop.fs.Path(base).toUri.getPath
      .stripSuffix("/")
    spark.sparkContext.parallelize(dirs, dirs.size).flatMap { d =>
      val p = new org.apache.hadoop.fs.Path(graft.tables.Fs.child(base, d))
      val f = p.getFileSystem(confBox.value)
      if (!f.exists(p)) Iterator.empty
      else {
        val it = f.listFiles(p, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        while (it.hasNext) {
          val st = it.next()
          if (st.isFile)
            buf += ((st.getPath.toUri.getPath.stripPrefix(rootUriPath)
              .stripPrefix("/"), st.getModificationTime))
        }
        buf.iterator
      }
    }.collect().toSeq
  }

  /** Files in the table dir referenced by NO log version and older than
    * `cutoffMillis` — the orphans of crashed or race-losing writers (data
    * files move in BEFORE the OCC commit, so a commit that never lands
    * strands its files where no log-derived dead set can ever find them).
    * Delta's vacuum sweeps these by listing the directory; without this a
    * high-write table leaks storage unboundedly.
    */
  private[graft] def untrackedFiles(
      table: GraftTable, tracked: Set[String], cutoffMillis: Long): Seq[String] =
    sweepListing(table).collect {
      case (rel, mtime) if !tracked.contains(rel) && mtime < cutoffMillis => rel
    }

  /** The untracked-sweep cutoff for a vacuum at `retainVersion`: a file is
    * sweepable only when older than BOTH the horizon commit (Delta's
    * "unreferenced and older than the retention period" rule — the horizon
    * IS where the retention duration resolved to) and the in-flight age
    * guard (a retain-0 vacuum must not eat a concurrent writer's
    * just-moved files).
    */
  private def untrackedCutoff(table: GraftTable, retainVersion: Long): Long = {
    val now = System.currentTimeMillis()
    val horizonTs = table.log.monotonicHistory()
      .find(_._1 == retainVersion).map(_._2).getOrElse(now)
    math.min(horizonTs, now - untrackedMinAge(table))
  }

  def vacuum(table: GraftTable, retainVersion: Long): Int =
    vacuum(table, retainVersion, lite = false)

  def vacuum(table: GraftTable, retainVersion: Long, lite: Boolean): Int = {
    import graft.tables.Fs
    val DistributedDeleteThreshold = distributedDeleteThreshold(table)
    val log = table.log
    val VacuumPlan(deadData, dropVersions, liveSidecars, liveDvDirs, scan) =
      vacuumPlan(log, retainVersion)
    // untracked orphans (crashed/race-losing writers): everything the LOG
    // knows about — retained, dead-below-horizon, and change files — is
    // tracked; an eligible listed file outside that set, older than the
    // cutoff, is sweepable. Derived BEFORE the horizon rewrite below so the
    // cutoff reads the original commit timestamps.
    val untracked =
      if (lite) Nil
      else {
        val tracked: Set[String] =
          (scan.retainedFiles.map(_.path) ++ deadData ++ scan.liveCdc).toSet
        untrackedFiles(table, tracked, untrackedCutoff(table, retainVersion))
      }
    // checkpoint the horizon version: its log file becomes self-contained
    // (full metadata + live file set) so snapshot replay can start there.
    // The retention scan already folded the horizon snapshot and parsed its
    // actions — reuse them instead of re-reading the log.
    val horizon = scan.horizon
    val horizonCdc = scan.horizonActions.collect { case c: AddCDCFile => c }
    val horizonCommit = scan.horizonActions.collect { case c: CommitInfo => c }
    // streaming-writer idempotence watermarks survive the horizon rewrite —
    // dropping them would make a restarted stream re-append its last epoch
    val horizonTxns = horizon.transactions.toSeq.sortBy(_._1)
      .map { case (app, v) => graft.tables.SetTransaction(app, v) }
    // the rewritten horizon is a SNAPSHOT, not the original change set — a
    // change consumer reading it as a commit would re-emit the whole table
    // as inserts; the marker lets the stream source refuse it loudly
    val markedCommit = horizonCommit.map(ci => ci.copy(operationParameters =
      ci.operationParameters + (GraftLog.HorizonRewriteParam -> "true")))
    log.rewriteVersion(retainVersion,
      Seq[Action](horizon.metadata, horizon.protocol) ++ horizonTxns ++
        horizon.files ++ horizonCdc ++ markedCommit)

    // EXTERNAL references recorded by a shallow clone belong to the
    // SOURCE table — the clone's vacuum must never delete them
    val deletable =
      (deadData.filterNot(GraftTable.isExternalPath) ++ untracked).distinct
    // small plans delete driver-side (no job overhead); past the threshold
    // the deletes FAN OUT as a Spark job — on an object store every delete
    // is an API round-trip, and a 10⁶-file vacuum through one driver thread
    // is hours where 32-way parallelism is minutes. Local-FS correctness is
    // identical (deleteIfExists is idempotent either way).
    var deleted =
      if (deletable.size < DistributedDeleteThreshold) {
        var n = 0
        deletable.foreach { rel =>
          if (Fs.deleteIfExists(Fs.child(table.path, rel))) n += 1
        }
        n
      } else if (Fs.isRemote(table.path)) {
        // remote scheme: executors delete through hadoop.fs with the
        // DRIVER's session conf shipped along (a bare executor Configuration
        // would miss spark.hadoop.* scheme registrations and credentials)
        val base = table.path
        val confBox = new org.apache.spark.sql.graft.SparkBridge.ConfBox(
          table.spark.sessionState.newHadoopConf())
        table.spark.sparkContext
          .parallelize(deletable, math.max(1, deletable.size / 1000))
          .mapPartitions { rels =>
            val conf = confBox.value
            rels.map { rel =>
              val p = new org.apache.hadoop.fs.Path(graft.tables.Fs.child(base, rel))
              if (p.getFileSystem(conf).delete(p, false)) 1 else 0
            }
          }
          .sum().toInt
      } else {
        val base = table.path
        table.spark.sparkContext
          .parallelize(deletable, math.max(1, deletable.size / 1000))
          .map(rel => if (java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(base, rel))) 1 else 0)
          .sum().toInt
      }
    dropVersions.foreach(v => log.store.delete(log.versionFile(v)))
    // stale checkpoints below the horizon must go too: replaying from one
    // would skip the horizon's removes and resurrect dead files
    log.checkpointVersions().filter(_ < retainVersion)
      .foreach(v => log.deleteCheckpoint(v))
    // bloom sidecars referenced by NO retained file follow their data files
    // out (their commits' files were all rewritten or vacuumed); a probe
    // only ever resolves ids that appear in live stats, so deleting a truly
    // orphaned dir cannot affect it. Same orphan set vacuumDryRun reports.
    // COPY INTO memory sidecars whose commits fell below the horizon age
    // out here exactly like the log-cleanup path
    val liveCopyIds: Set[String] = log.liveCopySidecarIds()
    (bloomOrphanDirs(table.path, liveSidecars) ++ dvOrphanDirs(table.path, liveDvDirs)
      ++ copyIntoOrphanDirs(table.path, liveCopyIds)
      ++ streamStagingOrphanDirs(table.path))
      .foreach { dir =>
        // count the files inside (parts + markers), not the directory — the
        // return contract is files deleted
        val n = Fs.walkFiles(dir).size
        Fs.deleteRecursively(dir)
        deleted += n
      }
    deleted
  }

  /** Minimum age before an UNREFERENCED bloom sidecar dir may be vacuumed —
    * long enough that any commit whose sidecar was written before this
    * window has either landed (and references it) or died.
    */
  val BloomSidecarMinAgeMillis: Long = 60 * 60 * 1000L

  /** Z-ORDER rewrite (SURVEY §4.2).
    *
    * Multi-column numeric clustering interleaves the bits of equi-depth
    * rank buckets (one per clustering column) into a single Z-value, then
    * range-partitions + sorts on it — so EVERY clustering column's per-file
    * min/max tightens (≈ each file covers one tile of the space), not just
    * the first's. Bucket boundaries come from `approxQuantile` (driver-side
    * O(2^bits) doubles — the same reservoir-sample mechanism
    * `repartitionByRange` uses), making the buckets skew-robust; the
    * per-row bucket lookup is a codegen'd fold over the boundary-array
    * literal. One column — or any non-numeric clustering column — falls
    * back to plain range partitioning + sort, which is strictly better for
    * a single key (fully disjoint ranges) and the only order available for
    * strings.
    */
  def zOrderBy(table: GraftTable, cols: Seq[String], numFiles: Int = 0): Long =
    // historical whole-table entry point — one z-order implementation lives
    // in [[zorder]] (where-filtering, partition-aware range key, string
    // prefix ranks, pinned file counts); 0 preserves the old default of
    // keeping the current file count
    zorder(table, cols, numFiles =
      Some(if (numFiles > 0) numFiles else math.max(1, table.snapshot.files.size)))

  /** Bits of Z-value per clustering column: 8 (256 equi-depth buckets —
    * ample for file-level clustering) unless many columns squeeze the
    * 63-bit budget.
    */
  private def zBitsPerColumn(numCols: Int): Int = math.min(8, 63 / numCols)
}
