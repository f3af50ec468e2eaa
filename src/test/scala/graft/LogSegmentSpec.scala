package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funspec.AnyFunSpec

import graft.tables._

/** One log segment per resolution: `snapshot(v)` and `head(v)` each list
  * `_graft_log/` once, and the head pass alone agrees with the full fold on
  * everything but the file list.
  */
class LogSegmentSpec extends AnyFunSpec {

  private def schema(cols: String*): String =
    StructType(cols.map(StructField(_, LongType))).json

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("table").toString

  /** The POSIX store, counting its listings. */
  private class ListCountingStore extends PosixLogStore {
    val lists = new AtomicInteger()
    override def list(dir: String): Seq[(String, Long)] = {
      lists.incrementAndGet()
      super.list(dir)
    }
  }

  /** Checkpoint at v3; after it a schema change (v4), a protocol upgrade
    * (v5), SetTransactions (v6) and a remove + add (v7).
    */
  private def build(log: GraftLog): Unit = {
    log.commit(0L, Seq(Metadata(schema("id")), Protocol(), SetTransaction("app", 1L),
      AddFile("f0.parquet", size = 10L), CommitInfo(0L, "CREATE TABLE")))
    (1L to 3L).foreach { v =>
      log.commit(v, Seq(AddFile(s"f$v.parquet", size = 10L), CommitInfo(v, "WRITE")))
    }
    log.writeCheckpoint(3L)
    log.commit(4L, Seq(Metadata(schema("id", "extra")),
      AddFile("f4.parquet", size = 10L), CommitInfo(4L, "WRITE")))
    log.commit(5L, Seq(
      Protocol(readerFeatures = Seq("deletionVectors"), writerFeatures = Seq("deletionVectors")),
      CommitInfo(5L, "UPGRADE")))
    log.commit(6L, Seq(SetTransaction("app", 7L), SetTransaction("other", 2L),
      AddFile("f6.parquet", size = 10L), CommitInfo(6L, "STREAMING UPDATE")))
    log.commit(7L, Seq(RemoveFile("f1.parquet"), AddFile("f7.parquet", size = 10L),
      CommitInfo(7L, "DELETE")))
  }

  it("snapshot(v) and head(v) each list the log exactly once") {
    val store = new ListCountingStore
    val log = new GraftLog(tmpDir("seg-lists"), store)
    build(log)
    assert(log.checkpointVersions() == Seq(3L))
    Seq(5L, 7L).foreach { v =>
      store.lists.set(0)
      val snap = log.snapshot(v)
      assert(store.lists.get == 1, s"snapshot($v) listed ${store.lists.get} times")
      store.lists.set(0)
      val head = log.head(v)
      assert(store.lists.get == 1, s"head($v) listed ${store.lists.get} times")
      assert(head.files.isEmpty && snap.files.nonEmpty)
    }
  }

  it("head(v) equals the full fold's metadata, protocol and transactions at every version") {
    val log = new GraftLog(tmpDir("seg-mem"), new InMemoryLogStore)
    build(log)
    assert(log.checkpointVersions() == Seq(3L))
    (0L to 7L).foreach { v =>
      val full = log.snapshot(v)
      val head = log.head(v)
      assert(head.version == v)
      assert(head.metadata == full.metadata, s"metadata diverged at v$v")
      assert(head.protocol == full.protocol, s"protocol diverged at v$v")
      assert(head.transactions == full.transactions, s"transactions diverged at v$v")
      assert(head.files.isEmpty)
    }
    val latest = log.head()
    assert(latest.metadata.schemaJson == schema("id", "extra"))
    assert(latest.protocol.readerFeatures == Seq("deletionVectors"))
    assert(latest.transactions == Map("app" -> 7L, "other" -> 2L))
    assert(log.snapshot().files.map(_.path).toSet ==
      Set("f0.parquet", "f2.parquet", "f3.parquet", "f4.parquet", "f6.parquet", "f7.parquet"))
  }
}
