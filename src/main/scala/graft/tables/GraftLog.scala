package graft.tables

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path => JPath, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Reader/writer for a table's `_graft_log/` commit log.
  *
  * Driver-side only (log files are small: O(#files touched) lines per commit).
  * Optimistic concurrency: a commit claims its version file through the
  * [[LogStore]]'s atomic conditional put (POSIX: hard-link creation fails
  * on EEXIST; object stores: `If-None-Match`-style preconditions), so
  * concurrent writers get exactly one winner per version; losers receive
  * [[CommitConflictException]], which [[Transaction.run]] answers: it reads
  * the winning commits once and rebases (blind appends, and removal-bearing
  * commits file-disjoint from the winners) or aborts. The store resolves
  * per-path ([[LogStore.forPath]]) so one JVM can serve tables on different
  * storage systems.
  */
class GraftLog(val tablePath: String, val store: LogStore) {
  import GraftLog._

  def this(tablePath: String) = this(tablePath, LogStore.forPath(tablePath))

  /** Log directory as a path STRING (plain local path or hadoop-FS URI —
    * [[Fs]] decides per scheme; every log object address derives from it).
    */
  val logDir: String = Fs.child(tablePath, LogDirName)

  /** `_graft_log/` listed ONCE and parsed by the one file-name rule:
    * (committed versions, checkpoint heads), each as ascending
    * (version, bytes). Zero-length commit files are in-flight claims from
    * the no-hard-link commit fallback, not commits — invisible until their
    * content lands.
    */
  private def listing(): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val parsed = store.list(logDir).collect {
      case (LogFileName(v, ckpt), size) => (v.toLong, size, ckpt != null)
    }.sortBy(_._1)
    (parsed.collect { case (v, size, false) if size > 0L => (v, size) },
      parsed.collect { case (v, size, true) => (v, size) })
  }

  /** Sorted list of committed versions (from log file names). */
  def versions(): Seq[Long] = listing()._1.map(_._1)

  /** Sorted list of checkpoint versions (`<v>.checkpoint.json` heads). */
  def checkpointVersions(): Seq[Long] = listing()._2.map(_._1)

  /** The segment a snapshot at `version` (default: latest) replays, from
    * ONE listing: the newest checkpoint at or below the target plus the
    * commits after it — the one place a checkpoint is picked for a target.
    */
  def segment(version: Long = -1L): LogSegment = {
    val (commits, checkpoints) = listing()
    if (commits.isEmpty)
      throw new IllegalStateException(s"$tablePath is not a GraftTable (empty log)")
    val target = if (version < 0) commits.last._1 else version
    require(commits.exists(_._1 == target),
      s"version $target does not exist for $tablePath " +
        s"(have ${commits.headOption.map(_._1)}..${commits.lastOption.map(_._1)})")
    val ckpt = checkpoints.takeWhile(_._1 <= target).lastOption
    LogSegment(target, ckpt,
      commits.filter { case (v, _) => v <= target && ckpt.forall(v > _._1) })
  }

  def latestVersion(): Long =
    versions().lastOption.getOrElse(
      throw new IllegalStateException(s"$tablePath is not a GraftTable (no $LogDirName)")
    )

  def earliestVersion(): Long =
    versions().headOption.getOrElse(
      throw new IllegalStateException(s"$tablePath is not a GraftTable (no $LogDirName)")
    )

  def tableExists: Boolean = versions().nonEmpty

  def versionFile(v: Long): String = Fs.child(logDir, f"$v%020d.json")

  def checkpointFile(v: Long): String = Fs.child(logDir, f"$v%020d.checkpoint.json")

  /** Multi-part parquet sidecar dir holding a checkpoint's [[AddFile]]
    * actions when the table uses `graft.checkpoint.format=parquet` (the
    * head actions stay in [[checkpointFile]] — see [[CheckpointParquet]]).
    */
  def checkpointParquetDir(v: Long): String =
    Fs.child(logDir, f"$v%020d.checkpoint.parquet")

  /** Materialize the state at `version` into a self-contained sidecar
    * (metadata + live file set). Snapshot replay then starts at the newest
    * checkpoint ≤ target instead of folding the whole log — O(files +
    * versions-since-checkpoint) instead of O(total log lines). Written
    * automatically every [[GraftLog.CheckpointInterval]] commits.
    *
    * Format follows [[GraftLog.CheckpointFormatProperty]]: the default is
    * one JSON-lines file; `parquet` splits the FILE actions into a
    * multi-part columnar dir ([[CheckpointParquet]]) with only the O(1)
    * head actions (metadata, protocol, txns) in the JSON — the parquet dir
    * lands first, the head JSON last, so a checkpoint never becomes
    * visible (via [[checkpointVersions]]) before its file actions exist.
    * Parquet checkpoints need a real filesystem; on a non-filesystem
    * [[LogStore]] the format falls back to JSON (self-describing per
    * version — readers check which sidecar exists).
    */
  def writeCheckpoint(version: Long): Unit = writeCheckpoint(snapshot(version))

  /** [[writeCheckpoint]] of a full snapshot already in hand — a commit's
    * post-state, a retention horizon — at `snap.version`.
    */
  private[tables] def writeCheckpoint(snap: Snapshot): Unit = {
    val txnActions = snap.transactions.toSeq.sortBy(_._1)
      .map { case (app, v) => SetTransaction(app, v) }
    val head: Seq[Action] = Seq(snap.metadata, snap.protocol) ++ txnActions
    val parquetFmt = declaresParquetCheckpoints(snap.metadata) && store.filesystemBacked
    if (parquetFmt) {
      CheckpointParquet.write(checkpointParquetDir(snap.version), snap.files)
      store.overwrite(checkpointFile(snap.version),
        head.map(renderAction).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    } else {
      // the PARQUET-PROPERTY fallback on a non-filesystem store writes a
      // self-containment STAMP (a commitInfo line — every fold ignores
      // commitInfo), so a reader finding an add-less head under the
      // parquet property can distinguish "complete JSON checkpoint with
      // zero files" (stamped) from "parquet dir sidecar lost" (unstamped)
      // and fail loud in the second case instead of folding silently
      // empty. Plain JSON checkpoints (no parquet property) stay
      // stamp-free — no ambiguity exists for them, and the driver and
      // executor writers remain byte-identical.
      val stamp: Seq[Action] =
        if (declaresParquetCheckpoints(snap.metadata))
          Seq(CommitInfo(System.currentTimeMillis(), GraftLog.SelfContainedCheckpointOp))
        else Nil
      val body = (head ++ snap.files ++ stamp)
        .map(renderAction).mkString("", "\n", "\n")
      store.overwrite(checkpointFile(snap.version), body.getBytes(StandardCharsets.UTF_8))
    }
  }

  /** Delete a checkpoint: the parquet file-actions dir FIRST, then the
    * JSON head — deliberately the SAME dir-first order publication uses
    * (dir lands, then head), not its reverse. A crash between the two
    * leaves a head whose missing dir READS LOUDLY (the head pass's
    * parquet guard) and which the next retention pass re-deletes;
    * head-first would orphan the dir invisibly forever, since
    * [[checkpointVersions]] lists only heads. Returns whether the head
    * existed.
    */
  def deleteCheckpoint(cv: Long): Boolean = {
    val pdir = checkpointParquetDir(cv)
    if (Fs.isDirectory(pdir)) Fs.deleteRecursively(pdir)
    store.delete(checkpointFile(cv))
  }

  /** COPY INTO memory-sidecar ids referenced by surviving commits at or
    * above `fromVersion` — THE rule both GC paths (vacuum's orphan sweep
    * and the write path's log cleanup) key their `_copy_into` collection
    * on; one definition so the memory format has one reader.
    */
  def liveCopySidecarIds(fromVersion: Long = Long.MinValue): Set[String] =
    versions().filter(_ >= fromVersion).flatMap { v =>
      (try actionsAt(v) catch { case _: Exception => Nil }).collect {
        case c: CommitInfo => c.operationParameters.get("copyFilesSidecar")
      }.flatten
    }.toSet

  /** Actions of a single committed version. */
  def actionsAt(v: Long): Seq[Action] = {
    val f = versionFile(v)
    if (!store.exists(f))
      throw new java.io.FileNotFoundException(
        s"version $v of $tablePath has no log file ($f)")
    store.read(f)
      .filter(_.trim.nonEmpty)
      .map(parseAction)
  }

  /** Stream of (version, actions) from `from` to the latest, ascending —
    * analogue of `DeltaLog.getChanges` (reference `ChangeDataFeedHelper.scala:332`).
    */
  def getChanges(from: Long): Seq[(Long, Seq[Action])] =
    versions().filter(_ >= from).map(v => v -> actionsAt(v))

  /** Snapshot at `version` (default: latest): the segment's head pass plus
    * the add/remove fold, starting from the newest checkpoint ≤ target when
    * one exists — replay cost is O(checkpoint size + versions since
    * checkpoint), not O(total log lines), so thousand-version tables stay
    * cheap to open. One listing.
    */
  def snapshot(version: Long = -1L): Snapshot = fold(replayHead(segment(version)))

  /** The snapshot HEAD at `version` (default: latest) — version, metadata,
    * protocol and txn watermarks with `files = Nil` — from the head pass
    * alone, never folding the file actions: everything a PLAN needs besides
    * the file list, O(head lines) at any table size. One listing; not a
    * fold for [[GraftLog.foldCount]].
    */
  def head(version: Long = -1L): Snapshot = replayHead(segment(version)).snapshot

  /** Streams a log object's lines: [[Fs.scanLines]] on filesystem stores,
    * [[LogStore.read]] on the others.
    */
  private def scanLog[A](path: String)(f: Iterator[String] => A): A =
    if (store.filesystemBacked) Fs.scanLines(path)(f) else f(store.read(path).iterator)

  /** The HEAD PASS over `seg`: metadata, protocol and txn lines only — the
    * checkpoint is read up to its first add (both writers put every head
    * line before the file actions), later commits are prefix-filtered.
    * Decides, once for every fold, where the checkpoint keeps its file
    * actions, and applies THE reader-feature gate (a head consumer is
    * still a reader).
    */
  private[graft] def replayHead(seg: LogSegment): SegmentHead = {
    var meta: Metadata = null
    var proto: Protocol = Protocol()
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    def take(a: Action): Unit = a match {
      case m: Metadata       => meta = m
      case p: Protocol       => proto = p
      // last-wins, matching Delta's txn replay: a writer that legitimately
      // rewinds its version — e.g. a fresh checkpoint dir reusing an appId
      // — CAN lower its watermark; monotonicity is the SINK's protocol
      // (writeEpoch gates on >=), not the log's
      case t: SetTransaction => txns(t.appId) = t.version
      case _                 => ()
    }
    var ckptAdds = false
    var stamped = false
    seg.checkpointVersion.foreach { cv =>
      scanLog(checkpointFile(cv)) { lines =>
        while (!ckptAdds && lines.hasNext) {
          val line = lines.next()
          if (line.startsWith(AddPrefix)) ckptAdds = true
          else if (line.trim.nonEmpty) parseAction(line) match {
            case c: CommitInfo => stamped ||= c.operation == SelfContainedCheckpointOp
            case a             => take(a)
          }
        }
      }
    }
    // where the checkpoint keeps its file actions, CONTENT-first: a head
    // carrying adds IS the JSON checkpoint (any dir sidecar alongside is
    // ignored — reading both would duplicate every file); an add-less head
    // whose OWN metadata declares parquet format reads its dir sidecar
    // whenever one exists (the dir is written with java.nio regardless of
    // the log's store, so even a table re-routed onto a non-filesystem
    // store keeps reading its parquet checkpoints). With NO dir, a stamped
    // head is writeCheckpoint's self-contained JSON fallback (complete,
    // zero files); an unstamped one lost its sidecar — deleted by a racing
    // retention pass, or the table was moved without it — and folding
    // without it would silently replay a tiny subset of the table, so it
    // fails loudly on every store. Recovery must not go through
    // writeCheckpoint (it snapshots, landing back here): restore the
    // sidecar, or deleteCheckpoint(cv) so the fold replays the raw log.
    val parquetCheckpoint = seg.checkpointVersion
      .filter(_ => !ckptAdds && meta != null && declaresParquetCheckpoints(meta))
      .flatMap { cv =>
        val pdir = checkpointParquetDir(cv)
        if (Fs.isDirectory(pdir)) Some(pdir)
        else if (stamped) None
        else throw new IllegalStateException(
          s"checkpoint $cv of $tablePath is parquet-format but its file-actions " +
            s"dir sidecar (${Fs.fileName(pdir)}) is missing — deleted " +
            "concurrently, or the table was moved without its sidecars; " +
            s"retry, restore the sidecar, or deleteCheckpoint($cv) and " +
            "re-checkpoint")
      }
    seg.commits.foreach { case (v, _) =>
      scanLog(versionFile(v))(
        _.filter(l => HeadPrefixes.exists(l.startsWith)).map(parseAction).foreach(take))
    }
    require(meta != null, s"no metadata action found in log of $tablePath")
    // reader gate: features this BUILD does not implement would make the
    // scan silently wrong (unmasked deleted rows, missing renamed columns)
    val unknownReader = proto.readerFeatures.filterNot(SupportedReaderFeatures)
    if (unknownReader.nonEmpty)
      throw new IllegalStateException(
        s"$tablePath requires reader feature(s) ${unknownReader.mkString(", ")} this " +
          "build does not implement (supported: " +
          s"${SupportedReaderFeatures.toSeq.sorted.mkString(", ")}); " +
          "upgrade the library to read this table")
    SegmentHead(seg, Snapshot(seg.version, meta, Nil, txns.toMap, proto), parquetCheckpoint)
  }

  /** The add/remove fold on top of a head pass: the checkpoint's file
    * actions from wherever the head pass found them, then every later
    * commit's adds and removes in line order (a deletion-vector rewrite
    * removes and re-adds one path in one commit — the re-add wins).
    */
  private[graft] def fold(h: SegmentHead): Snapshot = {
    GraftLog.recordFold(tablePath)
    val files = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    def take(line: String): Unit = parseAction(line) match {
      case a: AddFile    => files(a.path) = a
      case r: RemoveFile => files.remove(r.path); ()
      case _             => ()
    }
    h.parquetCheckpoint match {
      case Some(dir) => CheckpointParquet.read(dir).foreach(a => files(a.path) = a)
      case None => h.segment.checkpointVersion.foreach { cv =>
        scanLog(checkpointFile(cv))(_.filter(_.startsWith(AddPrefix)).foreach(take))
      }
    }
    h.segment.commits.foreach { case (v, _) =>
      scanLog(versionFile(v))(
        _.filter(l => l.startsWith(AddPrefix) || l.startsWith(RemovePrefix)).foreach(take))
    }
    h.snapshot.copy(files = files.values.toSeq)
  }

  /** History entries (newest first), analogue of `deltaLog.history.getHistory`
    * (reference `OperationMetricHelper.scala:56`).
    */
  def history(): Seq[(Long, CommitInfo)] =
    versions().reverse.flatMap { v =>
      actionsAt(v).collectFirst { case ci: CommitInfo => v -> ci }
    }

  /** (version, commit timestamp) in VERSION order with timestamps
    * monotonized by a running max — writer wall clocks can skew backwards,
    * and every timestamp-based resolution (time travel, vacuum horizon,
    * CDF bounds, stream start) needs a non-decreasing sequence or a
    * lagging clock moves the resolution boundary below a younger version.
    * Delta applies the same commit-timestamp adjustment when resolving.
    */
  def monotonicHistory(): Seq[(Long, Long)] = {
    var runningMax = Long.MinValue
    history().reverse.map { case (v, ci) =>
      runningMax = math.max(runningMax, ci.timestamp)
      (v, runningMax)
    }
  }

  /** Latest version whose monotonized commit timestamp is ≤ `millis` — the
    * single resolution rule behind `timestampAsOf`, `endingTimestamp` and
    * RESTORE TO TIMESTAMP. None = `millis` predates the first commit.
    */
  def versionAtOrBefore(millis: Long): Option[Long] =
    monotonicHistory().takeWhile(_._2 <= millis).lastOption.map(_._1)

  /** The retention scan shared by vacuum and log cleanup: files/change
    * files referenced by ANY retained version (`retainedFiles` includes
    * files added then removed within the retained range — time travel to
    * their version still needs them), and the DEAD set below the horizon —
    * added there, live nowhere retained, external (shallow-clone)
    * references excluded from deletion on both the data and CDC legs.
    *
    * Cost is one snapshot fold at the horizon plus one `actionsAt` pass per
    * version (any file live at a retained version v was either live at the
    * horizon or added in (horizon, v]) — NOT a snapshot replay per retained
    * version, which would make the write-path auto cleanup quadratic on
    * long-retention streaming tables.
    */
  private[graft] case class RetentionScan(
      retainedFiles: Seq[AddFile], liveCdc: Set[String], deadData: Seq[String],
      horizon: Snapshot, horizonActions: Seq[Action])

  private[graft] def retentionScan(retainVersion: Long): RetentionScan = {
    val vs = versions()
    require(vs.contains(retainVersion),
      s"version $retainVersion does not exist for $tablePath")
    // every distinct AddFile INCARNATION (a re-add with a new deletion-
    // vector descriptor counts separately — a retained older snapshot may
    // still reference the older sidecar), not last-wins by path
    val retained = scala.collection.mutable.LinkedHashSet.empty[AddFile]
    val horizon = snapshot(retainVersion)
    horizon.files.foreach(retained += _)
    val horizonActions = actionsAt(retainVersion)
    val liveCdc = scala.collection.mutable.HashSet.empty[String]
    horizonActions.foreach {
      case c: AddCDCFile => liveCdc += c.path; ()
      case _             => ()
    }
    vs.filter(_ > retainVersion).foreach { v =>
      actionsAt(v).foreach {
        case a: AddFile    => retained += a; ()
        case c: AddCDCFile => liveCdc += c.path; ()
        case _             => ()
      }
    }
    val live: Set[String] = retained.iterator.map(_.path).toSet
    val dead = vs.filter(_ < retainVersion).flatMap { v =>
      actionsAt(v).collect {
        case a: AddFile if !live.contains(a.path) &&
          !GraftTable.isExternalPath(a.path) => a.path
        case c: AddCDCFile if !liveCdc.contains(c.path) &&
          !GraftTable.isExternalPath(c.path) => c.path
      }
    }.distinct
    RetentionScan(retained.toSeq, liveCdc.toSet, dead, horizon, horizonActions)
  }

  /** Delete version files and superseded checkpoints below `retainVersion`,
    * after ensuring a checkpoint covers the surviving range (the engine of
    * log retention — see `TableOps.cleanupMetadata` for the public
    * contract). Returns the number of log files deleted.
    *
    * Data files reachable ONLY through the doomed versions are deleted too
    * (the vacuum rule at the same horizon): once their log entries are
    * gone, no vacuum can ever discover them — skipping this step would
    * leak every superseded file below the horizon permanently. External
    * (shallow-clone) references belong to the source table and are never
    * touched. The dead-file deletes run driver-side; for a huge
    * never-vacuumed backlog run `TableOps.vacuum(table, retainVersion)`
    * first (it fans the deletes out as a Spark job).
    */
  def cleanupBelow(retainVersion: Long): Int = {
    val vs = versions()
    val latest = vs.last
    require(retainVersion >= 0 && retainVersion <= latest,
      s"retainVersion $retainVersion outside 0..$latest")
    require(vs.contains(retainVersion),
      s"version $retainVersion has no log file (already cleaned?)")
    val doomed = vs.filter(_ < retainVersion)
    if (doomed.isEmpty) return 0
    // dead data below the horizon goes WITH its log entries — computed
    // BEFORE the log files do (see retentionScan for the rule)
    val scan = retentionScan(retainVersion)
    val dead = scan.deadData
    // every surviving target must replay without the doomed files: a
    // checkpoint at-or-after the horizon minus one covers (ckpt, target];
    // the horizon version itself is the natural anchor
    if (!checkpointVersions().exists(cv => cv >= retainVersion - 1 && cv <= retainVersion))
      writeCheckpoint(scan.horizon)
    dead.foreach(rel => Fs.deleteIfExists(Fs.child(tablePath, rel)))
    val staleCkpts = checkpointVersions().filter(_ < retainVersion - 1)
    var deleted = 0
    doomed.foreach { v =>
      if (store.delete(versionFile(v))) deleted += 1
    }
    staleCkpts.foreach { cv =>
      if (deleteCheckpoint(cv)) deleted += 1
    }
    // dv/bloom sidecar dirs referenced by NO retained file follow their
    // data out here too (same orphan rule + in-flight age guard as
    // vacuum's sweep): a table using ONLY the auto expired-log cleanup
    // would otherwise accumulate orphaned `_dv`/`_bloom` dirs forever,
    // since once the log entries are gone no later vacuum can find them
    val liveSidecars: Set[String] = scan.retainedFiles
      .flatMap(f => GraftLog.parseStats(f.stats).flatMap(_.bloomSidecar)).toSet
    val liveDvDirs: Set[String] = scan.retainedFiles.flatMap(_.dv.map(_.path)).toSet
    // COPY INTO ingestion-memory sidecars referenced by no surviving commit
    // age out with their history (the documented bounded-memory horizon)
    val liveCopyIds: Set[String] = liveCopySidecarIds(retainVersion)
    (graft.operators.TableOps.bloomOrphanDirs(tablePath, liveSidecars) ++
      graft.operators.TableOps.dvOrphanDirs(tablePath, liveDvDirs) ++
      graft.operators.TableOps.copyIntoOrphanDirs(tablePath, liveCopyIds))
      .foreach(Fs.deleteRecursively)
    deleted
  }

  /** Horizon the property-driven log retention resolves to at `now`: the
    * latest version whose commit timestamp is at-or-before
    * `now - graft.logRetentionDuration` (default 7 days). The ONE
    * implementation of the property→horizon rule — the write-path auto
    * cleanup and `TableOps.cleanupMetadata` both resolve through here.
    */
  def retentionHorizon(props: Map[String, String], now: Long): Option[Long] = {
    val hours = props.get(GraftLog.LogRetentionProperty)
      .map(GraftLog.parseRetentionHours)
      .getOrElse(GraftLog.DefaultLogRetentionHours)
    versionAtOrBefore(now - (hours * 3600 * 1000).toLong)
  }

  /** Earliest version whose monotonized commit timestamp is ≥ `millis` —
    * the rule behind `startingTimestamp` (stream and CDF). None = `millis`
    * is after the latest commit.
    */
  def versionAtOrAfter(millis: Long): Option[Long] =
    monotonicHistory().collectFirst { case (v, ts) if ts >= millis => v }

  /** Atomically REPLACE a version's log file with a self-contained action
    * set (used by vacuum to checkpoint the retention horizon before older
    * log files are dropped — afterwards snapshot replay can start there).
    */
  def rewriteVersion(version: Long, actions: Seq[Action]): Unit = {
    val target = versionFile(version)
    require(store.exists(target), s"version $version does not exist for $tablePath")
    val body = actions.map(renderAction).mkString("", "\n", "\n")
    store.overwrite(target, body.getBytes(StandardCharsets.UTF_8))
  }

  /** Atomically commit `actions` as `version`.
    *
    * The version claim is the store's atomic conditional put — publish
    * full content iff the key is absent (POSIX: hard-link creation, which
    * FAILS on EEXIST unlike rename; object stores: `If-None-Match`-style
    * preconditioned PUT). Two writers racing for the same version number
    * therefore get exactly one winner; the loser sees
    * [[CommitConflictException]] and can re-read the log and retry at the
    * next version (optimistic concurrency).
    *
    * Every [[GraftLog.CheckpointInterval]]th version also materializes a
    * checkpoint sidecar (best-effort: a failed checkpoint never fails the
    * commit — it is reported on stderr and the next interval retries).
    * With `pre`, the full snapshot at `version - 1` the actions were built
    * on, the checkpoint is written from `pre.advance(version, actions)` —
    * the committed post-state — instead of listing and folding the log
    * again; without it (or when `pre` is at another version) the
    * checkpoint folds `version`.
    */
  def commit(version: Long, actions: Seq[Action], pre: Option[Snapshot] = None): Unit = {
    store.createDirectories(logDir)
    val target = versionFile(version)
    val body = actions.map(renderAction).mkString("", "\n", "\n")
    try store.putIfAbsent(target, body.getBytes(StandardCharsets.UTF_8))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(tablePath, version)
    }
    if (version > 0 && version % CheckpointInterval == 0)
      try writeCheckpoint(pre.filter(_.version == version - 1)
        .fold(snapshot(version))(_.advance(version, actions)))
      catch { case scala.util.control.NonFatal(e) =>
        Console.err.println(s"graft checkpoint of $tablePath at version $version skipped: ${e.getMessage}")
      }
  }

  /** Spec-visible shim over [[PosixLogStore.publishWithoutLink]] (the
    * no-hard-link marker-claim protocol), translating the store-level
    * conflict into the log-level exception. Only meaningful on the POSIX
    * store.
    */
  private[graft] def publishWithoutLink(tmp: JPath, target: JPath, version: Long): Unit =
    try new PosixLogStore().publishWithoutLink(tmp, target)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new CommitConflictException(tablePath, version)
    }
}

/** Another writer claimed `version` first — re-read the log and retry (safe
  * for commutable commits like blind appends) or abort.
  */
class CommitConflictException(tablePath: String, val version: Long)
  extends RuntimeException(
    s"version $version of $tablePath was committed concurrently by another writer")

/** The log objects one snapshot replays, from one listing of `_graft_log/`:
  * the target `version`, the newest checkpoint head at or below it and the
  * commits after that checkpoint, each as (version, bytes).
  */
final case class LogSegment(
    version: Long,
    checkpoint: Option[(Long, Long)],
    commits: Seq[(Long, Long)]) {
  def checkpointVersion: Option[Long] = checkpoint.map(_._1)
  def commitBytes: Long = commits.map(_._2).sum
}

/** A segment's head pass ([[GraftLog.replayHead]]): the snapshot head
  * (`files = Nil`) and, when the checkpoint keeps its file actions in a
  * parquet dir sidecar, that dir — the format decision every fold of the
  * segment, driver or executor, reads from.
  */
final case class SegmentHead(
    segment: LogSegment,
    snapshot: Snapshot,
    parquetCheckpoint: Option[String])

object GraftLog {
  /** Per-table counters of FULL driver snapshot folds (O(live files) heap
    * + CPU each) — observability for the Dataset-backed read path: the
    * large-table rehearsal/specs assert a lazy point query performs ZERO
    * of these. Opt-in per table (one map probe per fold otherwise), so the
    * map never grows beyond explicitly watched paths.
    */
  private val foldWatch =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  private[graft] def watchFolds(tablePath: String): Unit = {
    foldWatch.put(tablePath, new java.util.concurrent.atomic.AtomicLong(0L)); ()
  }
  private[graft] def foldCount(tablePath: String): Long =
    Option(foldWatch.get(tablePath)).map(_.get()).getOrElse(0L)
  private[graft] def unwatchFolds(tablePath: String): Unit = {
    foldWatch.remove(tablePath); ()
  }
  private[tables] def recordFold(tablePath: String): Unit =
    Option(foldWatch.get(tablePath)).foreach { c => c.incrementAndGet(); () }

  val LogDirName = "_graft_log"

  /** `<v>.json` commits and `<v>.checkpoint.json` checkpoint heads. */
  private val LogFileName = """(\d+)\.(checkpoint\.)?json""".r

  private val AddPrefix = "{\"add\""
  private val RemovePrefix = "{\"remove\""
  /** The lines a head pass parses (every writer renders the action key first). */
  private val HeadPrefixes = Seq("{\"metadata\"", "{\"protocol\"", "{\"txn\"")
  val CdcDirName = "_change_data"
  val CdfProperty = "graft.enableChangeDataFeed"

  /** Checkpoint cadence (Delta uses 10): every Nth commit writes a
    * self-contained snapshot sidecar bounding log-replay cost.
    */
  val CheckpointInterval = 10

  /** Checkpoint sidecar format: `json` (default — one JSON-lines file) or
    * `parquet` (multi-part columnar dir for the file actions, O(1) JSON
    * head — the 10⁶-file shape; see [[CheckpointParquet]]). Enabling
    * `parquet` requires the `parquetCheckpoint` reader feature: a build
    * that reads only the JSON head would silently lose the checkpoint's
    * file actions, so old readers must fail loudly instead.
    */
  val CheckpointFormatProperty = "graft.checkpoint.format"

  private[tables] def declaresParquetCheckpoints(m: Metadata): Boolean =
    m.properties.get(CheckpointFormatProperty).exists(_.equalsIgnoreCase("parquet"))

  /** Operation name of the self-containment stamp a JSON checkpoint
    * carries (a commitInfo line every fold ignores) — how a reader
    * distinguishes a complete zero-file JSON checkpoint under the parquet
    * PROPERTY from a parquet checkpoint whose dir sidecar is lost.
    */
  val SelfContainedCheckpointOp = "CHECKPOINT-SELF-CONTAINED"

  /** Age after which a zero-byte fallback claim is considered crashed and may
    * be broken by a competing committer.
    */
  val StaleClaimMillis = 60000L

  /** Log-retention property vocabulary (Delta's `delta.logRetentionDuration`
    * / `delta.enableExpiredLogCleanup` pair): retention as
    * `"interval <n> <hours|days|weeks>"`, and an opt-in flag that makes
    * checkpoint commits also expire log files past retention.
    */
  val LogRetentionProperty = "graft.logRetentionDuration"
  val ExpiredLogCleanupProperty = "graft.enableExpiredLogCleanup"
  val DefaultLogRetentionHours: Double = 7 * 24.0

  /** Reader features this build implements: they change what a scan must
    * do to be correct ([[Transaction.SupportedWriterFeatures]] adds the
    * features that change what a commit must maintain).
    */
  val SupportedReaderFeatures: Set[String] =
    Set("deletionVectors", "columnMapping", "typeWidening", "parquetCheckpoint")

  /** CommitInfo operationParameters key marking a vacuum-horizon REWRITE: a
    * version whose log content was replaced by a self-contained snapshot
    * (metadata + all live files). Change consumers must not read it as the
    * version's original change set.
    */
  val HorizonRewriteParam = "graftHorizonRewrite"

  /** `"interval <n> <unit>"` (unit ∈ hour/day/week, plural accepted, case
    * insensitive) → hours. Loud on anything else: a silently misread
    * retention would delete history the caller meant to keep.
    */
  private[graft] def parseRetentionHours(s: String): Double = {
    val m = java.util.regex.Pattern
      .compile("(?i)^\\s*interval\\s+(\\d+(?:\\.\\d+)?)\\s+(hour|day|week)s?\\s*$")
      .matcher(s)
    if (!m.matches())
      throw new IllegalArgumentException(
        s"$LogRetentionProperty must look like 'interval 7 days', got '$s'")
    val n = m.group(1).toDouble
    m.group(2).toLowerCase match {
      case "hour" => n
      case "day"  => n * 24
      case "week" => n * 24 * 7
    }
  }

  private[graft] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  def renderAction(a: Action): String = {
    val key = a match {
      case _: Metadata       => "metadata"
      case _: AddFile        => "add"
      case _: RemoveFile     => "remove"
      case _: AddCDCFile     => "cdc"
      case _: CommitInfo     => "commitInfo"
      case _: SetTransaction => "txn"
      case _: Protocol       => "protocol"
    }
    val root = mapper.createObjectNode()
    root.set[ObjectNode](key, mapper.valueToTree[JsonNode](a))
    mapper.writeValueAsString(root)
  }

  def parseAction(line: String): Action = {
    val node = mapper.readTree(line)
    val field = node.fieldNames().asScala.toSeq.headOption.getOrElse(
      throw new IllegalArgumentException(s"empty log line: $line"))
    val body = node.get(field)
    field match {
      case "metadata"   => mapper.treeToValue(body, classOf[Metadata])
      case "add"        => mapper.treeToValue(body, classOf[AddFile])
      case "remove"     => mapper.treeToValue(body, classOf[RemoveFile])
      case "cdc"        => mapper.treeToValue(body, classOf[AddCDCFile])
      case "commitInfo" => mapper.treeToValue(body, classOf[CommitInfo])
      case "txn"        => mapper.treeToValue(body, classOf[SetTransaction])
      case "protocol"   => mapper.treeToValue(body, classOf[Protocol])
      case other =>
        throw new IllegalArgumentException(s"unknown log action '$other' in: $line")
    }
  }

  def parseStats(statsJson: String): Option[FileStats] =
    if (statsJson == null || statsJson.isEmpty) None
    else {
      // manual tree walk: Jackson's Scala module erases Map[String,Long]
      // value types to Integer, breaking callers that pattern-match Long
      val n = mapper.readTree(statsJson)
      def strMap(field: String): Map[String, String] =
        Option(n.get(field)).map { m =>
          m.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
        }.getOrElse(Map.empty)
      def longMap(field: String): Map[String, Long] =
        Option(n.get(field)).map { m =>
          m.properties().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
        }.getOrElse(Map.empty)
      Some(FileStats(
        numRecords = Option(n.get("numRecords")).map(_.asLong()).getOrElse(0L),
        minValues = strMap("minValues"),
        maxValues = strMap("maxValues"),
        nullCount = longMap("nullCount"),
        bloom = strMap("bloom"),
        bloomSidecar = Option(n.get("bloomSidecar")).filterNot(_.isNull).map(_.asText()),
        // absent in logs written before the field existed = tight. That
        // default is WRONG for pre-field CONVERT/COMPUTE STATS commits
        // (foreign, possibly truncated stats with no field) — the log
        // cannot tell them apart after checkpointing, so COMPUTE STATS
        // re-stamps every absent-field file conservatively non-tight
        // (see TableOps.computeStats); until it runs, pre-field converted
        // tables need their stats recomputed before metadata-only string
        // min/max answers can be trusted.
        tightBounds = Option(n.get("tightBounds")).forall(_.asBoolean())
      ))
    }

  /** True when the stats JSON carries an explicit `tightBounds` field.
    * Stats rendered by any build since the field existed always include it
    * (Jackson writes plain Boolean fields unconditionally); absence means a
    * pre-field log, where graft-tight and CONVERT-harvested foreign stats
    * are indistinguishable — [[graft.operators.TableOps.computeStats]]
    * re-stamps such files conservatively.
    */
  def statsTightBoundsExplicit(statsJson: String): Boolean =
    statsJson != null && statsJson.nonEmpty &&
      Option(mapper.readTree(statsJson).get("tightBounds")).exists(!_.isNull)

  def renderStats(s: FileStats): String = mapper.writeValueAsString(s)
}
