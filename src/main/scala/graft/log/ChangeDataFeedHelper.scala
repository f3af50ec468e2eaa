package graft.log

import scala.collection.mutable
import scala.util.control.Breaks.{break, breakable}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.tables._

/** Change-Data-Feed time travel + failure-scenario recovery — parity with the
  * reference's `ChangeDataFeedHelper` (`ChangeDataFeedHelper.scala:19-377`,
  * SURVEY §2.5 C1–C11), over our `_graft_log` + `_change_data` substrate.
  *
  * A CDF read is *incremental batch*: per version, the recorded change files
  * (update/delete pre/post images), the added data files as `insert` rows
  * for plain writes, or delete+insert rows synthesized for whole-file
  * replaces, each stamped with `_change_type, _commit_version,
  * _commit_timestamp`. Which commit yields what is [[ChangeFeedPlanner]]'s
  * rule, shared with the streaming source.
  */
object ChangeDataFeedHelper {
  def apply(spark: SparkSession, path: String, startingVersion: Long): ChangeDataFeedHelper =
    ChangeDataFeedHelper(spark, path, startingVersion, new GraftLog(path).latestVersion())

  /** Construct from a registered table name (GraftTable.registerTable). */
  def forName(spark: SparkSession, name: String, startingVersion: Long): ChangeDataFeedHelper =
    apply(spark, GraftTable.forName(spark, name).path, startingVersion)
}

case class ChangeDataFeedHelper(
    spark: SparkSession,
    path: String,
    startingVersion: Long,
    endingVersion: Long
) {
  private val log = new GraftLog(path)
  private val table = GraftTable.forPath(spark, path)

  // =====================================================================
  // C1 — the time travel query
  // =====================================================================
  def readCDF: DataFrame = readCDF(startingVersion, endingVersion)

  /** Batched CDF read of versions [s, e]: every commit the
    * [[ChangeFeedPlanner]] classifies, assembled into at most one
    * change-file scan, one append scan and the synthesized replace groups
    * — not one DataFrame per version folded with union (whose plan explodes
    * at thousands of versions). Commits that removed files without change
    * data (CDF off) yield no rows.
    */
  def readCDF(s: Long, e: Long): DataFrame = {
    val planner = new ChangeFeedPlanner(table)
    val df = planner.frames(planner.classify(s to e).toSeq, e)
    require(df.isDefined, s"no change data between versions $s and $e of $path")
    df.get
  }

  // =====================================================================
  // C9/C10/C11 — recovery reads
  // =====================================================================
  def readCDFIgnoreMissingDeltaLog: Option[DataFrame] =
    getVersionsForAvailableDeltaLog.map(x => readCDF(x._1, x._2))

  def readCDFIgnoreMissingCDC: Option[DataFrame] =
    getVersionsForAvailableCDC.map(x => readCDF(x._1, x._2))

  def readCDFIgnoreMissingRangesForEDR: Option[DataFrame] = for {
    ranges <- getRangesForCDFEnabledVersions
  } yield ranges.map(x => readCDF(x._1, x._2))
    .reduce(_.unionByName(_, allowMissingColumns = true))

  // =====================================================================
  // C2 — dry run
  // =====================================================================
  /** Validate the full range up-front; same outcome contract as the
    * reference (`:101-123`): pass → this; any recoverable damage →
    * AssertionError naming the recovered range; a helper returning None →
    * IllegalStateException. One deliberate message-level divergence: our
    * CDC assert reports the recovered CDC range, where the reference
    * interpolates the LOG range into that message (`:117`) — the driver
    * oracle (c2_dryrun) pins our wording.
    */
  def dryRun(): ChangeDataFeedHelper = (
    getVersionsForAvailableDeltaLog,
    getVersionsForAvailableCDC,
    getRangesForCDFEnabledVersions
  ) match {
    case (Some(a), Some(b), Some(c)) =>
      assert(a == ((startingVersion, endingVersion)),
        s"Delta Log for provided versions are not available. Available versions are between ${a._1} and ${a._2}")
      assert(b == ((startingVersion, endingVersion)),
        s"Change Data for provided versions are not available. Available CDC versions are between ${b._1} and ${b._2}")
      assert(c.size == 1 && c.head == ((startingVersion, endingVersion)),
        s"CDC has been disabled between provided versions : $startingVersion and $endingVersion . " +
          "Use getRangesForCDFEnabledVersions to find exact versions between which CDC is available")
      this
    case _ =>
      throw new IllegalStateException("Please run methods individually to debug issues with CDF.")
  }

  // =====================================================================
  // C3 — log-availability checks
  // =====================================================================
  def checkEarliestDeltaFileBetweenVersions: Option[(Long, Long)] = getLogVersions(false)

  def getVersionsForAvailableDeltaLog: Option[(Long, Long)] = getLogVersions(true)

  /** Validate the requested range against retained log versions and CDF
    * status at both endpoints; on a missing version report the available
    * range instead (reference `:191-210` VersionNotFoundException path).
    *
    * The two public entry points genuinely differ (reference `:133,142`):
    * `isCheckpoint=false` reports RAW log-file availability — the
    * per-version change information a CDF read consumes — while
    * `isCheckpoint=true` reports snapshot-STATE availability, which may
    * start at a checkpoint sidecar when the raw files below it are gone
    * (vacuumed or manually deleted): a version between the surviving raw
    * head and the checkpoint has its change files but no reconstructable
    * table state.
    */
  def getLogVersions(isCheckpoint: Boolean): Option[(Long, Long)] = {
    val versions = log.versions()
    val (earliestRaw, latest) = (versions.head, versions.last)
    val earliest =
      if (!isCheckpoint || earliestRaw == 0L) earliestRaw
      else
        // earliest version whose full state replays: the oldest checkpoint
        // from which every later raw log file survives (raw files are
        // contiguous from earliestRaw — vacuum deletes oldest-first)
        log.checkpointVersions()
          .filter(cv => cv >= earliestRaw - 1 && cv <= latest)
          .headOption.getOrElse(earliestRaw)
    if (startingVersion < earliest || startingVersion > latest || endingVersion > latest)
      Some((earliest, latest))
    else if (cdfEnabledAt(startingVersion) && cdfEnabledAt(endingVersion))
      Some((startingVersion, endingVersion))
    else None
  }

  /** CDF status of a version's snapshot; a version whose state cannot be
    * replayed (pre-checkpoint raw survivor) counts as not-enabled rather
    * than erroring — the caller treats None as "range not cleanly readable".
    */
  private def cdfEnabledAt(v: Long): Boolean =
    scala.util.Try(log.snapshot(v).cdfEnabled).getOrElse(false)

  // =====================================================================
  // C4 — change-data availability (vacuum / manual-delete recovery)
  // =====================================================================
  /** First version in [start, end) whose first change file physically exists
    * becomes the queryable start (later versions are guaranteed intact by
    * vacuum ordering — reference `:214-284`). No-op merge commits pass;
    * data-changing commits without change files abort with guidance.
    */
  def getVersionsForAvailableCDC: Option[(Long, Long)] = {
    var versionToQuery = -1L
    // version 0 never carries change files (creation is a plain write)
    val start =
      if (startingVersion == 0L && startingVersion + 1 < endingVersion) startingVersion + 1
      else startingVersion
    breakable {
      for (v <- start until endingVersion) {
        val actions = log.actionsAt(v)
        val cdcFiles = actions.collect { case c: AddCDCFile => c.path }
        if (cdcFiles.isEmpty) {
          val metrics = actions.collectFirst { case c: CommitInfo => c.operationMetrics }
          metrics.filter(m => m.contains("numTargetRowsInserted")) match {
            case Some(m) =>
              assert(
                m("numTargetRowsInserted") == "0" && m("numTargetRowsUpdated") == "0" &&
                  m("numTargetRowsDeleted") == "0",
                "Insert/Update/Delete has happened but cdc column is not present, CDF might have been disabled between versions")
            case None =>
              val hasAdd = actions.exists(_.isInstanceOf[AddFile])
              val hasRemove = actions.exists(_.isInstanceOf[RemoveFile])
              if (hasAdd && hasRemove)
                throw new AssertionError(
                  "No insert/update/delete happened and cdc column is not present, CDF might have been disabled between versions")
          }
        } else {
          val full = new HPath(s"$path/${cdcFiles.head}")
          try {
            if (full.getFileSystem(new Configuration).getFileStatus(full).isFile)
              versionToQuery = v
            break()
          } catch { case _: java.io.IOException => () }
        }
      }
    }
    if (versionToQuery == -1L) None else Some((versionToQuery, endingVersion))
  }

  // =====================================================================
  // C5/C6 — per-version CDF status
  // =====================================================================
  def getAllVersionsWithCDFStatus: List[(Long, Boolean)] = {
    var prev = false
    log.getChanges(startingVersion)
      .takeWhile(_._1 <= endingVersion)
      .map { case (v, actions) =>
        val evaluated = actions.exists {
          case m: Metadata =>
            m.properties.get(GraftLog.CdfProperty).exists(_.equalsIgnoreCase("true"))
          case _: AddCDCFile => true
          case _ => false
        }
        // a commitInfo-only no-op commit carries the previous status forward
        val enabled = actions match {
          case Seq(ci: CommitInfo) =>
            val m = ci.operationMetrics
            if (m.contains("numTargetRowsDeleted") &&
              m("numTargetRowsDeleted") == "0" &&
              m("numTargetRowsInserted") == "0" &&
              m("numTargetRowsUpdated") == "0") prev
            else evaluated
          case _ => evaluated
        }
        prev = enabled
        (v, enabled)
      }.toList
  }

  def getAllCDFEnabledVersions: List[Long] =
    getAllVersionsWithCDFStatus.filter(_._2).map(_._1)

  def getAllCDFDisabledVersions: List[Long] =
    getAllVersionsWithCDFStatus.filterNot(_._2).map(_._1)

  // =====================================================================
  // C7/C8 — consecutive-range grouping
  // =====================================================================
  /** Group a sorted version list into maximal consecutive inclusive ranges;
    * None for lists of size ≤ 1. Reference quirk preserved bug-for-bug
    * (`:295-315`): the closing value only advances on consecutive pairs, so
    * an isolated head emits `(head, -1)`.
    */
  def groupVersionsInclusive(versions: List[Long]): Option[List[(Long, Long)]] =
    if (versions.size <= 1) None
    else {
      val ranges = mutable.TreeMap.empty[Long, Long]
      var rangeStart = versions.head
      var prev = versions.head
      var rangeEnd = -1L
      versions.tail.foreach { v =>
        if (v == prev + 1) { rangeEnd = v; prev = v }
        else { ranges.put(rangeStart, rangeEnd); rangeStart = v; prev = v }
      }
      ranges.put(rangeStart, rangeEnd)
      Some(ranges.toList)
    }

  def getRangesForCDFEnabledVersions: Option[List[(Long, Long)]] =
    groupVersionsInclusive(getAllCDFEnabledVersions)

  def getRangesForCDFDisabledVersions: Option[List[(Long, Long)]] =
    groupVersionsInclusive(getAllCDFDisabledVersions)
}
