package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funspec.AnyFunSpec

import graft.operators.{GraftMerge, TableOps}
import graft.tables._

/** One snapshot per operation: a table operation resolves the table once —
  * at most one full driver fold ([[GraftLog.foldCount]]) — and hands that
  * state to planning, file skipping and the commit; a commit on a
  * checkpoint version writes the checkpoint from its post-state instead of
  * folding the log again.
  */
class OneSnapshotSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  /** Full driver folds of the table at `dir` while `body` runs. */
  private def folds(dir: String)(body: => Any): Long = {
    GraftLog.watchFolds(dir)
    try { body; GraftLog.foldCount(dir) } finally GraftLog.unwatchFolds(dir)
  }

  private def rows(r: (Int, String, String)*) = r.toDF("id", "name", "country")

  private def table(name: String): GraftTable =
    GraftTable.create(spark, tmpTableDir(name),
      rows((1, "a", "US"), (2, "b", "US"), (3, "c", "FR")), partitionColumns = Seq("country"))

  describe("under the driver-file limit, an operation folds once") {
    it("an append") {
      val t = table("one-append")
      assert(folds(t.path)(t.append(rows((4, "d", "US")))) == 1L)
    }

    it("an append landing on a checkpoint version") {
      val t = table("one-append-ckpt")
      (1 until GraftLog.CheckpointInterval).foreach(v =>
        t.log.commit(v.toLong, Seq(CommitInfo(v.toLong, "NOOP"))))
      assert(folds(t.path)(t.append(rows((4, "d", "US")))) == 1L)
      assert(t.log.checkpointVersions() == Seq(GraftLog.CheckpointInterval.toLong))
      assert(t.toDF.count() == 4L)
    }

    it("MERGE") {
      val t = table("one-merge")
      assert(folds(t.path) {
        GraftMerge(t, "t").merge(rows((1, "a2", "US"), (5, "e", "FR")), "t.id = s.id", Some("s"))
          .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      } == 1L)
      assert(t.toDF.select("id", "name").as[(Int, String)].collect().toSet ==
        Set((1, "a2"), (2, "b"), (3, "c"), (5, "e")))
    }

    it("DELETE") {
      val t = table("one-delete")
      assert(folds(t.path)(TableOps.delete(t, Some("id = 1"))) == 1L)
      assert(t.toDF.count() == 2L)
    }

    it("UPDATE") {
      val t = table("one-update")
      assert(folds(t.path)(TableOps.update(t, Some("id = 2"), Map("name" -> "'z'"))) == 1L)
      assert(t.toDF.where("name = 'z'").count() == 1L)
    }

    it("replaceWhere") {
      val t = table("one-replace-where")
      assert(folds(t.path)(
        TableOps.overwriteWhere(t, rows((7, "g", "FR")), "country = 'FR'")) == 1L)
      assert(t.toDF.select("id").as[Int].collect().toSet == Set(1, 2, 7))
    }

    it("a format(\"graft\") read, once per query plan, and a time-travel read") {
      val t = table("one-read")
      t.append(rows((4, "d", "US")))
      val df = spark.read.format("graft").load(t.path).filter("id > 1")
      assert(folds(t.path)(df.collect()) == 1L)
      assert(folds(t.path)(df.groupBy("country").count().collect()) == 1L)
      assert(folds(t.path)(t.toDFAt(0L).collect()) == 1L)
    }

    it("a log-following file index folds again only once a commit lands") {
      val t = table("one-index")
      val snap = t.snapshot
      val index = new graft.sources.GraftFileIndex(spark, t.path,
        StructType(snap.schema.fields.filter(_.name == "country")), snap, followsLog = true)
      def listed = index.listFiles(Nil, Nil).flatMap(_.files).size
      var n = 0
      assert(folds(t.path) { n = listed } == 0L && n == snap.files.size)
      t.append(rows((4, "d", "US")))
      assert(folds(t.path) { n = listed } == 1L && n == snap.files.size + 1)
    }
  }

  describe("a cadence checkpoint written from the commit's post-state") {
    /** A raw log at version 9 — files added over several versions, one
      * removed, txn watermarks from two commits — then version 10 committed
      * through the write path from the caller's version-9 snapshot: a
      * deletion-vector remove + re-add of one path and two more watermarks.
      * Returns the log after checking that commit folded nothing.
      */
    def cadenceCommit(name: String, props: Map[String, String]): GraftLog = {
      val dir = tmpTableDir(name)
      val log = new GraftLog(dir)
      val schema = StructType(Seq(StructField("id", LongType)))
      log.commit(0L, Seq(Metadata(schema.json, Nil, props)) ++
        Transaction.upgrade(Protocol(), props) :+ CommitInfo(0L, "CREATE TABLE"))
      (1 until GraftLog.CheckpointInterval).foreach { v =>
        val extra: Seq[Action] = v match {
          case 3 => Seq(SetTransaction("mid", 1L))
          case 5 => Seq(RemoveFile("f2.parquet"))
          case 7 => Seq(SetTransaction("mid", 4L), SetTransaction("beta", 2L))
          case _ => Nil
        }
        log.commit(v.toLong, Seq(AddFile(s"f$v.parquet", size = 10L * v,
          stats = s"""{"numRecords":$v}""")) ++ extra :+ CommitInfo(v.toLong, "WRITE"))
      }
      val pre = log.snapshot(9L)
      val victim = pre.files.head
      assert(folds(dir) {
        TableWriter.write(spark, dir, Seq.empty[Long].toDF("id"), TableWriter.Append,
          operation = "DELETE", removeFiles = Seq(victim.path),
          extraActions = Seq(victim.copy(dv = Some(DvDescriptor("_dv/x", 1L))),
            SetTransaction("zeta", 3L), SetTransaction("alpha", 7L)),
          read = Some(Left(pre)), skipDataWrite = true)
      } == 0L, "the write planned from the caller's snapshot and checkpointed its post-state")
      assert(log.checkpointVersions() == Seq(10L))
      log
    }

    def bytes(path: String): Seq[Byte] = Files.readAllBytes(Paths.get(path)).toSeq

    it("equals writeCheckpoint's JSON checkpoint byte for byte") {
      val log = cadenceCommit("ckpt-post-json", Map.empty)
      val posted = bytes(log.checkpointFile(10L))
      log.deleteCheckpoint(10L)
      log.writeCheckpoint(10L)
      assert(posted == bytes(log.checkpointFile(10L)))
      // the re-added path moved to the end of the fold order
      assert(log.snapshot(10L).files.last.dv.isDefined)
    }

    it("equals writeCheckpoint's parquet checkpoint row for row") {
      val log = cadenceCommit("ckpt-post-parquet",
        Map(GraftLog.CheckpointFormatProperty -> "parquet"))
      val postedHead = bytes(log.checkpointFile(10L))
      val postedFiles = CheckpointParquet.read(log.checkpointParquetDir(10L))
      log.deleteCheckpoint(10L)
      log.writeCheckpoint(10L)
      assert(postedHead == bytes(log.checkpointFile(10L)))
      assert(postedFiles == CheckpointParquet.read(log.checkpointParquetDir(10L)))
      assert(postedFiles.last.dv.isDefined && postedFiles.size == 8)
    }
  }
}
