package graft

import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funspec.AnyFunSpec

import graft.tables._

/** Log I/O of one conflict decision: a commit that loses the version race
  * lists `_graft_log/` once — the listing that names the winners is the
  * segment it rebases onto — and reads each winning commit once to decide,
  * whatever the commit carries (staged rows, a read footprint, a txn
  * watermark).
  */
class OccLogIoSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  /** The POSIX store with an armed winner: the next version claim first
    * lands `winner` at the same version, so the caller's claim loses. From
    * then until the caller's next claim, listings and version-file reads
    * are counted (`total*` counts from the last reset).
    */
  private class RaceStore extends PosixLogStore {
    val lists, reads, totalLists, totalReads = new AtomicInteger()
    @volatile var winner: Option[Seq[Action]] = None
    @volatile private var counting = false
    def reset(): Unit = Seq(lists, reads, totalLists, totalReads).foreach(_.set(0))
    override def list(dir: String): Seq[(String, Long)] = {
      totalLists.incrementAndGet()
      if (counting) lists.incrementAndGet()
      super.list(dir)
    }
    override def read(path: String): Seq[String] = {
      if (!path.contains("checkpoint")) {
        totalReads.incrementAndGet()
        if (counting) reads.incrementAndGet()
      }
      super.read(path)
    }
    override def putIfAbsent(path: String, body: Array[Byte]): Unit = winner match {
      case Some(w) =>
        winner = None
        super.putIfAbsent(path, w.map(GraftLog.renderAction).mkString("", "\n", "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        counting = true
        super.putIfAbsent(path, body)
      case None =>
        counting = false
        super.putIfAbsent(path, body)
    }
  }

  /** Run `commit` against a table whose next claim loses to `winner`;
    * returns (listings, version-file reads) between the lost claim and the
    * rebased one.
    */
  private def race(name: String, winner: Seq[Action])(commit: GraftTable => Unit): (Int, Int) = {
    val dir = tmpTableDir(name)
    GraftTable.create(spark, dir,
      Seq((1, "a", "US"), (2, "b", "US"), (100, "f", "FR")).toDF("id", "name", "country"),
      partitionColumns = Seq("country"))
    val store = new RaceStore
    LogStore.register(dir, store)
    try {
      val t = GraftTable.forPath(spark, dir)
      store.reset()
      store.winner = Some(winner :+ CommitInfo(System.currentTimeMillis(), "WINNER"))
      commit(t)
      assert(store.winner.isEmpty, "the commit never claimed a version")
      assert(t.version == 2L, "the loser did not rebase to the next version")
      info(s"$name: ${store.lists.get} listing(s), ${store.reads.get} winner read(s) " +
        s"from the lost claim to the rebased one; whole commit: ${store.totalLists.get} " +
        s"listing(s), ${store.totalReads.get} version-file read(s)")
      (store.lists.get, store.reads.get)
    } finally LogStore.unregister(dir)
  }

  it("a blind append that loses one race lists once and reads the winner once") {
    val io = race("occ-io-append", Nil) { t =>
      t.append(Seq((3, "c", "US")).toDF("id", "name", "country")); ()
    }
    assert(io == ((1, 1)), s"(listings, reads) = $io")
  }

  it("a MERGE losing to a file-disjoint winner lists once and reads the winner once") {
    var frFile = ""
    val io = race("occ-io-merge", Nil) { t =>
      frFile = t.snapshot.files.find(_.partitionValues("country") == "FR").get.path
      // the armed winner deletes the FR file — disjoint from the merge's
      // candidate (US) file
      val store = LogStore.forPath(t.path).asInstanceOf[RaceStore]
      store.winner = store.winner.map(RemoveFile(frFile) +: _)
      graft.operators.GraftMerge(t, "old")
        .merge(Seq((1, "a2", "US")).toDF("id", "name", "country"), "old.id = new.id", Some("new"))
        .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute()
      assert(t.toDF.select("id", "name").as[(Int, String)].collect().toSet ==
        Set((1, "a2"), (2, "b")))
    }
    assert(io == ((1, 1)), s"(listings, reads) = $io")
  }

  it("a txn-carrying streaming epoch that races lists once and reads the winner once") {
    val io = race("occ-io-stream", Seq(SetTransaction("appB", 0L))) { t =>
      TableWriter.write(spark, t.path, Seq((4, "d", "US")).toDF("id", "name", "country"),
        TableWriter.Append, operation = "STREAMING UPDATE",
        extraActions = Seq(SetTransaction("appA", 1L)), read = Some(Left(t.snapshot)))
      assert(GraftTable.forPath(spark, t.path).txnVersion("appA").contains(1L))
    }
    assert(io == ((1, 1)), s"(listings, reads) = $io")
  }
}
