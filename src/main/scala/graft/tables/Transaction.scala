package graft.tables

import java.util.ConcurrentModificationException

import scala.util.control.NonFatal

/** The one optimistic commit step every table commit takes — Delta's
  * `OptimisticTransaction` (reference `DeltaHelpers.scala:112,131`,
  * `deltaLog.withNewTransaction`) in four parts:
  *
  *  - [[gate]]: the writer-feature check — a build missing a declared
  *    writer feature could corrupt invariants it does not know exist;
  *  - [[upgrade]]: the protocol auto-upgrade rule — properties enabling a
  *    feature for the first time add it to the table's feature sets (never
  *    downgrades);
  *  - [[verdict]]: whether a commit that lost the version race may rebase
  *    past the winning commits, from one pass over their actions;
  *  - [[run]]: the bounded retry loop — gate, build the attempt's actions
  *    from the caller's snapshot (then from the rebased one), claim the
  *    version ([[GraftLog.commit]]), and on a lost race list the log once,
  *    read the winners once and ask the verdict. After a commit lands, the
  *    checkpoint-cadence hook (expired-log cleanup) runs.
  *
  * [[TableWriter.write]] (every data commit), the GraftTable DDL
  * ([[alter]]) and the version-0 creators ([[create]]) all commit here.
  */
private[graft] object Transaction {

  /** Version races one commit may lose before it surfaces
    * ConcurrentModificationException instead of spinning.
    */
  val MaxAttempts = 20

  /** Writer features this build implements: the reader set (a writer
    * rewrites what it reads) plus the features that only change what a
    * commit must maintain.
    */
  val SupportedWriterFeatures: Set[String] =
    GraftLog.SupportedReaderFeatures ++ Set("identityColumns", "checkConstraints",
      "generatedColumns", "defaultColumns")

  /** The writer gate: fail when `snap`'s protocol declares a writer feature
    * this build does not implement.
    */
  def gate(snap: Snapshot, tablePath: String): Unit = {
    val unknown = snap.protocol.writerFeatures.filterNot(SupportedWriterFeatures)
    if (unknown.nonEmpty)
      throw new IllegalStateException(
        s"$tablePath requires writer feature(s) ${unknown.mkString(", ")} this " +
          s"build does not implement (supported: ${SupportedWriterFeatures.toSeq.sorted.mkString(", ")}); " +
          "upgrade the library to write this table")
  }

  /** The features a property map's configuration requires, as
    * (readerFeatures, writerFeatures).
    */
  private[tables] def requiredFeatures(props: Map[String, String]): (Set[String], Set[String]) = {
    def is(key: String, value: String) = props.get(key).exists(_.equalsIgnoreCase(value))
    def declares(prefix: String) = props.keysIterator.exists(_.startsWith(prefix))
    // gate on the VALUE, not mere presence: a property explicitly set to
    // 'none' (or 'json', the default checkpoint format) does not use the
    // feature, and the protocol never downgrades — presence-branding would
    // mark the table permanently
    val reader = Map(
      "deletionVectors" -> is(DeletionVectors.Property, "true"),
      "columnMapping" -> props.get(ColumnMapping.ModeProperty)
        .exists(v => v.nonEmpty && !v.equalsIgnoreCase("none")),
      "typeWidening" -> is(TableWriter.TypeWideningProperty, "true"),
      "parquetCheckpoint" -> is(GraftLog.CheckpointFormatProperty, "parquet"))
    val writerOnly = Map(
      "identityColumns" -> declares(GraftTable.IdentityPropertyPrefix),
      "checkConstraints" -> declares(GraftTable.ConstraintPropertyPrefix),
      "generatedColumns" -> declares(GraftTable.GeneratedPropertyPrefix),
      "defaultColumns" -> declares(GraftTable.DefaultPropertyPrefix))
    val r = reader.collect { case (f, true) => f }.toSet
    (r, r ++ writerOnly.collect { case (f, true) => f })
  }

  /** The protocol a commit of `props` must write on top of `cur`, or None
    * when `cur` already covers every feature they require.
    */
  def upgrade(cur: Protocol, props: Map[String, String]): Option[Protocol] = {
    val (rr, ww) = requiredFeatures(props)
    if (rr.subsetOf(cur.readerFeatures.toSet) && ww.subsetOf(cur.writerFeatures.toSet)) None
    else Some(cur.copy(readerFeatures = (cur.readerFeatures.toSet ++ rr).toSeq.sorted,
      writerFeatures = (cur.writerFeatures.toSet ++ ww).toSeq.sorted))
  }

  /** What a commit whose data files were staged wrote them under: the
    * CHECK-constraint set its rows were checked against, and — when it
    * assigned identity values — the properties holding the high-water
    * marks it continued from.
    */
  final case class Staged(constraints: Map[String, String], identityBase: Option[Map[String, String]])

  /** What the verdict knows of one commit attempt.
    *
    * @param removes   paths the caller decided to remove, as of its read
    * @param reads     files read to decide the commit (a MERGE's candidates)
    * @param metadata  the metadata this attempt commits
    * @param txnApps   idempotence appIds the commit carries
    * @param commutable a blind append: no removes, no reads, no overwrite
    * @param rebased   removes derived from the attempt's own snapshot (an
    *                  overwrite's file list): they conflict only with winners
    *                  after that snapshot
    */
  final case class Footprint(
      removes: Set[String],
      reads: Set[String],
      metadata: Metadata,
      txnApps: Set[String],
      commutable: Boolean,
      staged: Option[Staged],
      rebased: Set[String])

  sealed trait Verdict
  case object Rebase extends Verdict
  /** The first `rule` (a clause naming what the winner did) that fired, in
    * winning `version`.
    */
  final case class Abort(rule: String, version: Long) extends Verdict

  /** The conflict check (Delta's WriteSerializable rule) over `winners`,
    * each read once, in version order. A winner conflicts when it
    *  - advanced an idempotence watermark this commit carries (a zombie
    *    instance of the same stream double-writing an epoch);
    *  - changed the CHECK constraints staged rows were checked against, or
    *    advanced an identity mark this commit also advances (its staged
    *    ids collide) — no retry can save staged files;
    *  - changed the table metadata, unless this commit is a blind append or
    *    the winner wrote exactly this attempt's metadata;
    *  - removed a file this commit removes or read to decide its removes
    *    (Delta's ConcurrentDeleteRead: stale match decisions);
    *  - re-added a path this commit removes (a concurrent RESTORE reviving
    *    it: removing it now would silently lose the restored rows).
    * Winner adds otherwise never conflict (fresh unique names): the outcome
    * is as if this commit ran first. An unreadable winner aborts every
    * commit but a blind append.
    */
  def verdict(log: GraftLog, winners: Seq[Long], fp: Footprint): Verdict = {
    val removed = fp.removes ++ fp.rebased
    def stagedRule(m: Metadata, s: Staged): Option[String] = {
      val now = GraftTable.constraintsOf(m.properties)
      if (now != s.constraints)
        Some("changed the CHECK constraints this commit's staged rows were checked against " +
          now.toSeq.sorted.map { case (n, p) => s"$n ($p)" }.mkString("(now: [", ", ", "])"))
      else s.identityBase.flatMap(base => m.properties.collectFirst {
        case (k, v) if k.startsWith(GraftTable.IdentityPropertyPrefix) && k.endsWith(".high") &&
            !base.get(k).contains(v) =>
          s"advanced the identity high-water mark $k to $v, colliding with this commit's staged ids"
      })
    }
    def rule(a: Action): Option[String] = a match {
      case t: SetTransaction if fp.txnApps.contains(t.appId) =>
        Some(s"advanced the idempotence watermark of appId ${t.appId}, which this commit also carries")
      case m: Metadata =>
        fp.staged.flatMap(stagedRule(m, _)).orElse(
          if (fp.commutable || m == fp.metadata) None else Some("changed the table metadata"))
      case r: RemoveFile if removed.contains(r.path) || fp.reads.contains(r.path) =>
        Some(s"removed ${r.path}, which this commit read or rewrites")
      case ad: AddFile if removed.contains(ad.path) =>
        Some(s"re-added ${ad.path}, which this commit removes")
      case _ => None
    }
    winners.iterator.flatMap { w =>
      val fired =
        try log.actionsAt(w).iterator.flatMap(rule).nextOption()
        catch { case NonFatal(e) =>
          Option.when(!fp.commutable)(s"has an unreadable log entry (${e.getMessage})")
        }
      fired.map(Abort(_, w))
    }.nextOption().getOrElse(Rebase)
  }

  /** One attempt's complete action list, and its footprint — None commits
    * under the DDL rule: a lost race always rebases and re-derives.
    */
  final case class Attempt(actions: Seq[Action], footprint: Option[Footprint])

  /** Commit through the bounded optimistic loop. `first` is the state the
    * commit was prepared from — Left a full snapshot, Right the head past
    * the driver-file limit, None: the table does not exist yet — and the
    * first attempt is built from it, however old: every winner since the
    * caller's read shows up as a lost claim and goes through the one
    * verdict (Delta validates from txn.readVersion for the same reason). On
    * a lost race ONE listing (`log.segment()`) names the winners and is the
    * segment `reload` builds the rebased attempt's state from. An attempt
    * built from a full snapshot hands it to [[GraftLog.commit]], so a
    * cadence checkpoint is written from the committed post-state; a head
    * has no file list, and its checkpoint folds.
    *
    * @return the committed version
    */
  def run(
      log: GraftLog,
      operation: String,
      first: Option[Either[Snapshot, SegmentHead]],
      reload: LogSegment => Either[Snapshot, SegmentHead])(
      build: Option[Snapshot] => Attempt): Long = {
    @annotation.tailrec
    def attempt(n: Int, state: Option[Either[Snapshot, SegmentHead]]): Long = {
      val snap = state.map(_.fold(identity, _.snapshot))
      snap.foreach(gate(_, log.tablePath))
      val a = build(snap)
      val v = snap.fold(0L)(_.version + 1)
      val landed =
        try { log.commit(v, a.actions, state.flatMap(_.left.toOption)); true }
        catch { case _: CommitConflictException => false }
      if (landed) {
        expireLogs(log, v, a.actions.collectFirst { case m: Metadata => m }
          .orElse(snap.map(_.metadata)).fold(Map.empty[String, String])(_.properties))
        v
      } else {
        val seg = log.segment()
        a.footprint.map(verdict(log, v to seg.version, _)).foreach {
          case Abort(rule, w) =>
            throw new ConcurrentModificationException(
              s"commit of $operation to ${log.tablePath} conflicts with a concurrent writer: " +
                s"version $w $rule; re-run the operation")
          case Rebase => ()
        }
        if (n >= MaxAttempts)
          throw new ConcurrentModificationException(
            s"$operation on ${log.tablePath} lost $MaxAttempts version races in a row " +
              s"(last at version $v); re-run the operation")
        attempt(n + 1, Some(reload(seg)))
      }
    }
    attempt(1, first)
  }

  /** A metadata-only DDL commit: `mk` re-derives (and thereby
    * re-validates) the new metadata and the commit's operationParameters
    * from a fresh snapshot on every attempt — a blind retry could commit
    * over a concurrent change the validation never saw. DDL can enable a
    * feature (RENAME sets column mapping, SET TBLPROPERTIES can turn on
    * DVs): the protocol upgrade follows the commitInfo.
    */
  def alter(log: GraftLog, operation: String)(
      mk: Snapshot => (Metadata, Map[String, String])): Long = {
    val load: LogSegment => Either[Snapshot, SegmentHead] = seg => Left(log.fold(log.replayHead(seg)))
    run(log, operation, Some(load(log.segment())), load) { snap =>
      val s = snap.get
      val (m, params) = mk(s)
      Attempt(Seq(m, CommitInfo(System.currentTimeMillis(), operation, operationParameters = params)) ++
        upgrade(s.protocol, m.properties), None)
    }
  }

  /** Version 0 of a new table: `metadata`, the protocol its properties
    * imply on top of `protocol` (a clone's source protocol is always
    * written), `files`, `commitInfo`. Losing version 0 means the table now
    * exists.
    */
  def create(log: GraftLog, metadata: Metadata, files: Seq[Action], commitInfo: CommitInfo,
      protocol: Option[Protocol] = None): Long =
    run(log, commitInfo.operation, None, seg => Right(log.replayHead(seg))) {
      case Some(_) => throw new IllegalArgumentException(s"${log.tablePath} already exists")
      case None =>
        val proto = upgrade(protocol.getOrElse(Protocol()), metadata.properties).orElse(protocol)
        Attempt(Seq(metadata) ++ proto ++ files :+ commitInfo, None)
    }

  /** Expired-log cleanup (Delta's `delta.enableExpiredLogCleanup`): opt-in,
    * piggybacks on the checkpoint cadence so it is O(expired) every N
    * commits and free otherwise; best-effort — the commit has already
    * landed.
    */
  private def expireLogs(log: GraftLog, v: Long, props: Map[String, String]): Unit =
    if (v > 0 && v % GraftLog.CheckpointInterval == 0 &&
        props.get(GraftLog.ExpiredLogCleanupProperty).contains("true"))
      try log.retentionHorizon(props, System.currentTimeMillis()).foreach(log.cleanupBelow)
      catch { case NonFatal(e) =>
        Console.err.println(s"graft expired-log cleanup of ${log.tablePath} skipped: ${e.getMessage}")
      }
}
