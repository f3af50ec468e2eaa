package graft

import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

import graft.operators.TableOps
import graft.tables.{AddCDCFile, AddFile, DeletionVectors, GraftTable, RemoveFile}

/** Characterization of the predicate-scoped rewrites — DELETE and UPDATE
  * (copy-on-write and deletion-vector), replaceWhere, a DELETE matching
  * nothing and NULL-evaluating predicates — on one 12-row, 3-file table with
  * the change feed on. Each case pins the commit's whole `operationMetrics`
  * map (less its three timing keys), its add / remove / re-add action
  * counts and its exact change-feed rows.
  *
  * Byte-valued metrics are checked against the commit's own actions: the
  * helper replaces `numRemovedBytes` by the token "removedBytes" when it
  * equals the pre-commit size of the files removed and not re-added, and
  * `numAddedBytes` / `numOutputBytes` by "addedBytes" when they equal the
  * size of the newly added files.
  */
class DmlCharacterizationSpec extends AnyFunSpec with Matchers with SparkSessionTestWrapper {

  private type Change = (Long, String, Option[Int], String)

  private case class Commit(
      operation: String, metrics: Map[String, String],
      adds: Int, removes: Int, readds: Int, changes: Set[Change])

  private val Timing = Set("executionTimeMs", "scanTimeMs", "rewriteTimeMs")

  /** ids 0-3, 4-7 and 8-11 in one file each; score is NULL for ids 3, 7, 11. */
  private def table(name: String, dv: Boolean): GraftTable = {
    import spark.implicits._
    def rows(r: Range) =
      r.map(i => (i.toLong, s"n$i", if (i % 4 == 3) None else Some(i)))
        .toDF("id", "name", "score").coalesce(1)
    val props = Map("graft.enableChangeDataFeed" -> "true") ++
      (if (dv) Map(DeletionVectors.Property -> "true") else Map.empty)
    val t = GraftTable.create(spark, tmpTableDir(name), rows(0 until 4), properties = props)
    t.append(rows(4 until 8))
    t.append(rows(8 until 12))
    assert(t.snapshot.numFiles == 3)
    t
  }

  /** Runs `op` on `t` and describes the commit it made. */
  private def commit(t: GraftTable)(op: => Long): Commit = {
    val sizeBefore = t.snapshot.files.map(f => f.path -> f.size).toMap
    val v = op
    val actions = t.log.actionsAt(v)
    val removed = actions.collect { case r: RemoveFile => r.path }.toSet
    val added = actions.collect { case a: AddFile => a }
    val (readds, fresh) = added.partition(a => removed.contains(a.path))
    val removedBytes = (removed -- readds.map(_.path)).toSeq.map(sizeBefore).sum
    val addedBytes = fresh.map(_.size).sum
    val ci = t.history().find(_._1 == v).get._2
    val metrics = (ci.operationMetrics -- Timing).map {
      case ("numRemovedBytes", b) if b.toLong == removedBytes => "numRemovedBytes" -> "removedBytes"
      case (k @ ("numAddedBytes" | "numOutputBytes"), b) if b.toLong == addedBytes => k -> "addedBytes"
      case kv => kv
    }
    val changes =
      if (!actions.exists(_.isInstanceOf[AddCDCFile])) Array.empty[Change]
      else graft.log.ChangeDataFeedHelper(spark, t.path, v, v).readCDF
        .select("id", "name", "score", "_change_type").collect()
        .map(r => (r.getLong(0), r.getString(1),
          if (r.isNullAt(2)) None else Some(r.getInt(2)), r.getString(3)))
    assert(changes.length == changes.toSet.size, s"duplicate change rows: ${changes.toSeq}")
    Commit(ci.operation, metrics, fresh.size, removed.size, readds.size, changes.toSet)
  }

  private def check(actual: Commit, expected: Commit): Unit =
    assert(actual == expected, s"\nactual:   $actual\nexpected: $expected")

  private def del(i: Int): Change = (i.toLong, s"n$i", if (i % 4 == 3) None else Some(i), "delete")

  describe("copy-on-write") {

    it("DELETE rewrites the touched files and records the deleted rows") {
      val t = table("cow_del", dv = false)
      check(commit(t)(TableOps.delete(t, Some("id % 4 = 1 AND id < 8"))), Commit("DELETE", Map(
        "numDeletedRows" -> "2", "numCopiedRows" -> "6",
        "numRemovedFiles" -> "2", "numRemovedBytes" -> "removedBytes",
        "numFiles" -> "2", "numOutputRows" -> "6", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "2", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
        adds = 2, removes = 2, readds = 0, changes = Set(del(1), del(5))))
    }

    it("UPDATE re-projects matched rows; a NULL predicate copies the row") {
      val t = table("cow_upd", dv = false)
      check(commit(t)(TableOps.update(t, Some("score > 8"), Map("name" -> "concat(name, '_u')"))),
        Commit("UPDATE", Map(
          "numUpdatedRows" -> "2", "numCopiedRows" -> "2", "numRemovedFiles" -> "1",
          "numFiles" -> "1", "numOutputRows" -> "4", "numOutputBytes" -> "addedBytes",
          "numAddedFiles" -> "1", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
          adds = 1, removes = 1, readds = 0, changes = Set(
            (9L, "n9", Some(9), "update_preimage"), (9L, "n9_u", Some(9), "update_postimage"),
            (10L, "n10", Some(10), "update_preimage"), (10L, "n10_u", Some(10), "update_postimage"))))
      t.toDF.where("id = 11").collect().map(_.getString(1)).toSeq shouldBe Seq("n11")
    }

    it("replaceWhere drops the region's old rows and writes the incoming ones") {
      import spark.implicits._
      val t = table("cow_rw", dv = false)
      val incoming = Seq((4L, "r4", Some(40)), (5L, "r5", Option.empty[Int]))
        .toDF("id", "name", "score")
      check(commit(t)(TableOps.overwriteWhere(t, incoming, "id >= 4 AND id < 6")), Commit("WRITE", Map(
        "numOutputRows" -> "4", "numDeletedRows" -> "2", "numCopiedRows" -> "2",
        "numRemovedFiles" -> "1", "numRemovedBytes" -> "removedBytes",
        "numFiles" -> "3", "numOutputBytes" -> "addedBytes"),
        adds = 3, removes = 1, readds = 0, changes = Set(del(4), del(5),
          (4L, "r4", Some(40), "insert"), (5L, "r5", None, "insert"))))
    }

    it("DELETE matching nothing removes and adds no data file") {
      val t = table("cow_none", dv = false)
      check(commit(t)(TableOps.delete(t, Some("id > 100"))), Commit("DELETE", Map(
        "numDeletedRows" -> "0", "numCopiedRows" -> "0",
        "numRemovedFiles" -> "0", "numRemovedBytes" -> "removedBytes",
        "numFiles" -> "0", "numOutputRows" -> "0", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "0", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "1"),
        adds = 0, removes = 0, readds = 0, changes = Set.empty))
    }

    it("DELETE keeps and copies rows whose predicate is NULL") {
      val t = table("cow_null", dv = false)
      check(commit(t)(TableOps.delete(t, Some("score < 5"))), Commit("DELETE", Map(
        "numDeletedRows" -> "4", "numCopiedRows" -> "4",
        "numRemovedFiles" -> "2", "numRemovedBytes" -> "removedBytes",
        "numFiles" -> "2", "numOutputRows" -> "4", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "2", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
        adds = 2, removes = 2, readds = 0, changes = Set(del(0), del(1), del(2), del(4))))
      t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L)
    }
  }

  describe("deletion vectors") {

    it("DELETE masks partial files, removes emptied ones and merges prior vectors") {
      val t = table("dv_del", dv = true)
      check(commit(t)(TableOps.delete(t, Some("id % 4 = 1 AND id < 8"))), Commit("DELETE", Map(
        "numDeletedRows" -> "2", "numCopiedRows" -> "0",
        "numRemovedFiles" -> "0", "numRemovedBytes" -> "removedBytes",
        "numDeletionVectorsAdded" -> "2", "numDeletionVectorsUpdated" -> "0",
        "numFiles" -> "0", "numOutputRows" -> "0", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "0", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
        adds = 0, removes = 2, readds = 2, changes = Set(del(1), del(5))))
      // file 0 loses its last live rows (a plain remove); file 1 merges its
      // prior vector with the new position
      check(commit(t)(TableOps.delete(t, Some("id < 4 OR id = 6"))), Commit("DELETE", Map(
        "numDeletedRows" -> "4", "numCopiedRows" -> "0",
        "numRemovedFiles" -> "1", "numRemovedBytes" -> "removedBytes",
        "numDeletionVectorsAdded" -> "0", "numDeletionVectorsUpdated" -> "1",
        "numFiles" -> "0", "numOutputRows" -> "0", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "0", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
        adds = 0, removes = 2, readds = 1, changes = Set(del(0), del(2), del(3), del(6))))
      t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(4L, 7L, 8L, 9L, 10L, 11L)
    }

    it("UPDATE masks the old rows and writes only the new versions") {
      val t = table("dv_upd", dv = true)
      check(commit(t)(TableOps.update(t, Some("score > 8"), Map("name" -> "concat(name, '_u')"))),
        Commit("UPDATE", Map(
          "numUpdatedRows" -> "2", "numCopiedRows" -> "0", "numRemovedFiles" -> "0",
          "numDeletionVectorsAdded" -> "1", "numDeletionVectorsUpdated" -> "0",
          "numFiles" -> "1", "numOutputRows" -> "2", "numOutputBytes" -> "addedBytes",
          "numAddedFiles" -> "1", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
          adds = 1, removes = 1, readds = 1, changes = Set(
            (9L, "n9", Some(9), "update_preimage"), (9L, "n9_u", Some(9), "update_postimage"),
            (10L, "n10", Some(10), "update_preimage"), (10L, "n10_u", Some(10), "update_postimage"))))
      t.toDF.where("id >= 8").select("name").collect().map(_.getString(0)).sorted.toSeq shouldBe
        Seq("n10_u", "n11", "n8", "n9_u")
    }

    it("DELETE matching nothing removes and adds no data file") {
      val t = table("dv_none", dv = true)
      check(commit(t)(TableOps.delete(t, Some("id > 100"))), Commit("DELETE", Map(
        "numDeletedRows" -> "0", "numCopiedRows" -> "0",
        "numRemovedFiles" -> "0", "numRemovedBytes" -> "removedBytes",
        "numDeletionVectorsAdded" -> "0", "numDeletionVectorsUpdated" -> "0",
        "numFiles" -> "0", "numOutputRows" -> "0", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "0", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "0"),
        adds = 0, removes = 0, readds = 0, changes = Set.empty))
    }

    it("DELETE keeps rows whose predicate is NULL") {
      val t = table("dv_null", dv = true)
      check(commit(t)(TableOps.delete(t, Some("score < 5"))), Commit("DELETE", Map(
        "numDeletedRows" -> "4", "numCopiedRows" -> "0",
        "numRemovedFiles" -> "0", "numRemovedBytes" -> "removedBytes",
        "numDeletionVectorsAdded" -> "2", "numDeletionVectorsUpdated" -> "0",
        "numFiles" -> "0", "numOutputRows" -> "0", "numOutputBytes" -> "addedBytes",
        "numAddedFiles" -> "0", "numAddedBytes" -> "addedBytes", "numAddedChangeFiles" -> "2"),
        adds = 0, removes = 2, readds = 2, changes = Set(del(0), del(1), del(2), del(4))))
      t.toDF.select("id").collect().map(_.getLong(0)).sorted.toSeq shouldBe
        Seq(3L, 5L, 6L, 7L, 8L, 9L, 10L, 11L)
    }

    it("replaceWhere stays copy-on-write") {
      import spark.implicits._
      val t = table("dv_rw", dv = true)
      val incoming = Seq((4L, "r4", Some(40)), (5L, "r5", Option.empty[Int]))
        .toDF("id", "name", "score")
      check(commit(t)(TableOps.overwriteWhere(t, incoming, "id >= 4 AND id < 6")), Commit("WRITE", Map(
        "numOutputRows" -> "4", "numDeletedRows" -> "2", "numCopiedRows" -> "2",
        "numRemovedFiles" -> "1", "numRemovedBytes" -> "removedBytes",
        "numFiles" -> "3", "numOutputBytes" -> "addedBytes"),
        adds = 3, removes = 1, readds = 0, changes = Set(del(4), del(5),
          (4L, "r4", Some(40), "insert"), (5L, "r5", None, "insert"))))
    }
  }
}
