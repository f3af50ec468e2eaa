package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.scalatest.funspec.AnyFunSpec

import graft.operators.TableOps
import graft.tables.{DistributedSnapshot, GraftTable}

class DistributedSnapshotSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  private def fileSet(files: Seq[graft.tables.AddFile]) =
    files.map(f => (f.path, f.size, f.dv.map(d => (d.path, d.cardinality)))).toSet

  it("executor-side log fold equals the driver snapshot across a mutation history") {
    val dir = tmpTableDir("dsnap")
    val t = GraftTable.create(spark, dir,
      spark.range(100).select(col("id"), (col("id") % 10).as("k")),
      properties = Map(graft.tables.DeletionVectors.Property -> "true"))
    t.append(spark.range(100, 200).select(col("id"), (col("id") % 10).as("k")))
    // file-level delete (no dv): drops whole files where possible
    TableOps.delete(GraftTable.forPath(spark, dir), Some("id >= 150"))
    // row-level delete: dv remove+re-add shape (same path, two actions, one version)
    TableOps.delete(GraftTable.forPath(spark, dir), Some("id = 7"))
    val tt = GraftTable.forPath(spark, dir)
    val snap = tt.snapshot
    val dist = DistributedSnapshot.addFiles(spark, dir)
    assert(fileSet(dist) == fileSet(snap.files))
    assert(dist.forall(f => f.stats == snap.files.find(_.path == f.path).get.stats))
  }

  it("respects version pinning and checkpoint-based replay") {
    val dir = tmpTableDir("dsnap2")
    val t = GraftTable.create(spark, dir, spark.range(10).toDF("id"))
    (1 to 5).foreach(i => t.append(spark.range(i * 10, i * 10 + 10).toDF("id")))
    t.log.writeCheckpoint(3L)
    (0L to 5L).foreach { v =>
      val driver = GraftTable.forPath(spark, dir).snapshotAt(v).files
      val dist = DistributedSnapshot.addFiles(spark, dir, v)
      assert(fileSet(dist) == fileSet(driver), s"version $v diverged")
    }
  }

  it("metadataAt tracks schema changes without full log parse") {
    val dir = tmpTableDir("dsnap3")
    val t = GraftTable.create(spark, dir, spark.range(5).toDF("id"))
    t.append(spark.range(5).select(col("id"), lit("x").as("extra")))
    val log = new graft.tables.GraftLog(dir)
    val meta = log.head(log.latestVersion()).metadata
    val cols = org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
    assert(cols == Seq("id", "extra"))
  }

  it("prunedFiles matches driver filesMatching and collects only survivors") {
    val dir = tmpTableDir("dsnap4")
    val t = GraftTable.create(spark, dir,
      spark.range(1000).select(col("id"), (col("id") % 4).as("p")).repartition(8, col("id")))
    val snap = GraftTable.forPath(spark, dir).snapshot
    val cond = "id >= 990"
    val cls = graft.tables.FileSkipping.classify(spark, t.toDF, cond)
    val driver = graft.tables.FileSkipping.filesMatching(snap, cls.all, None)
    val dist = DistributedSnapshot.prunedFiles(spark, dir, cond)
    assert(fileSet(dist) == fileSet(driver))
    assert(dist.size < snap.files.size, "pruning should drop files")
    // contradictory condition prunes everything, on executors
    assert(DistributedSnapshot.prunedFiles(spark, dir, "id > 10 AND id < 5").isEmpty)
  }

  it("distributed checkpoint writer is format-identical to the driver writer") {
    val dir = tmpTableDir("dsnap6")
    val t = GraftTable.create(spark, dir, spark.range(50).toDF("id"))
    t.append(spark.range(50, 100).toDF("id"))
    TableOps.delete(GraftTable.forPath(spark, dir), Some("id >= 90"))
    graft.tables.TableWriter.write(spark, dir, spark.range(100, 110).toDF("id"),
      graft.tables.TableWriter.Append,
      extraActions = Seq(graft.tables.SetTransaction("appA", 7L)))
    val log = new graft.tables.GraftLog(dir)
    val v = log.latestVersion()

    DistributedSnapshot.writeCheckpoint(spark, dir)
    assert(log.checkpointVersions().contains(v))
    // the existing driver reader folds from this checkpoint alone
    val snapFromCkpt = log.snapshot(v)
    assert(snapFromCkpt.transactions == Map("appA" -> 7L))

    // same content the driver writer would have produced (order-insensitive)
    val distLines = java.util.List.copyOf(graft.tables.Fs.readLines(log.checkpointFile(v)).asJava)
    log.writeCheckpoint(v)
    val driverLines = java.util.List.copyOf(graft.tables.Fs.readLines(log.checkpointFile(v)).asJava)
    assert(distLines.asScala.toSet == driverLines.asScala.toSet)

    // and both replay to the same live set as the un-checkpointed fold
    val snapDriver = GraftTable.forPath(spark, dir).snapshot
    assert(fileSet(snapFromCkpt.files) == fileSet(snapDriver.files))
  }

  it("parquet checkpoint: multi-part codec round-trips every AddFile shape") {
    import graft.tables.{AddFile, CheckpointParquet, DvDescriptor}
    val dir = java.nio.file.Files.createTempDirectory("ckpt-pq")
      .resolve("00000000000000000010.checkpoint.parquet")
    val files = (0 until 7).map { i =>
      AddFile(
        path = s"part-$i.parquet",
        partitionValues =
          if (i % 3 == 0) Map.empty
          else if (i % 3 == 1) Map("k" -> i.toString)
          else Map("k" -> i.toString, "n" -> null),
        size = i * 100L,
        stats = if (i % 2 == 0) "" else s"""{"numRecords":$i}""",
        dv = if (i % 2 == 0) None else Some(DvDescriptor(s"_dv/d$i", i.toLong)))
    }
    CheckpointParquet.write(dir.toString, files, rowsPerPart = 3) // forces 3 parts
    val parts = java.nio.file.Files.list(dir).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    assert(parts == 3, s"expected 3 parts, got $parts")
    assert(CheckpointParquet.read(dir.toString) == files) // order- and value-exact
    // Spark's splittable reader sees the same rows as the driver codec
    val viaSpark = spark.read.parquet(dir.toString)
      .select("path", "size").as[(String, Long)].collect().toSet
    assert(viaSpark == files.map(f => (f.path, f.size)).toSet)
  }

  it("graft.checkpoint.format=parquet: both writers, both readers, one truth") {
    val dir = tmpTableDir("dsnap7")
    val t = GraftTable.create(spark, dir,
      spark.range(100).select(col("id"), (col("id") % 4).cast("string").as("p")),
      partitionColumns = Seq("p"),
      properties = Map(
        graft.tables.GraftLog.CheckpointFormatProperty -> "parquet",
        graft.tables.DeletionVectors.Property -> "true"))
    t.append(spark.range(100, 200).select(col("id"), (col("id") % 4).cast("string").as("p")))
    TableOps.delete(GraftTable.forPath(spark, dir), Some("id = 7")) // dv shape
    val log = new graft.tables.GraftLog(dir)
    val v = log.latestVersion()
    // the enabling write branded the protocol: old readers fail loudly
    // instead of silently losing the checkpoint's file actions
    assert(log.snapshot(v).protocol.readerFeatures.contains("parquetCheckpoint"))

    val truth = fileSet(GraftTable.forPath(spark, dir).snapshot.files)

    // DRIVER writer: JSON head is O(1) actions, adds live in the dir
    log.writeCheckpoint(v)
    assert(graft.tables.Fs.isDirectory(log.checkpointParquetDir(v)))
    val head = graft.tables.Fs.readLines(log.checkpointFile(v))
    assert(!head.exists(_.startsWith("{\"add\"")), "head JSON must carry no adds")
    assert(fileSet(log.snapshot(v).files) == truth, "driver fold from parquet ckpt")
    assert(fileSet(DistributedSnapshot.addFiles(spark, dir, v)) == truth,
      "executor fold from parquet ckpt")

    // DISTRIBUTED writer over the same state: same truth through both
    // readers. (Checkpoint publication is first-writer-wins, so drop the
    // driver's sidecars first — otherwise the executor-rendered layout
    // would never land and this phase would re-read the driver's parts.)
    log.deleteCheckpoint(v)
    DistributedSnapshot.writeCheckpoint(spark, dir, v)
    assert(graft.tables.Fs.isDirectory(log.checkpointParquetDir(v)))
    assert(fileSet(log.snapshot(v).files) == truth, "driver fold from spark-written ckpt")
    assert(fileSet(DistributedSnapshot.addFiles(spark, dir, v)) == truth,
      "executor fold from spark-written ckpt")
    // and pruning still works through the parquet checkpoint path
    val one = DistributedSnapshot.prunedFiles(spark, dir, "p = '3'")
    assert(one.nonEmpty && one.forall(_.partitionValues("p") == "3"))

    // post-checkpoint commits replay on top of the parquet checkpoint
    GraftTable.forPath(spark, dir).append(
      spark.range(200, 210).select(col("id"), lit("9").as("p")))
    val after = fileSet(GraftTable.forPath(spark, dir).snapshot.files)
    assert(fileSet(DistributedSnapshot.addFiles(spark, dir)) == after)

    // stale-checkpoint cleanup reclaims the dir sidecar too
    log.deleteCheckpoint(v)
    assert(!graft.tables.Fs.exists(log.checkpointParquetDir(v)))
    assert(fileSet(GraftTable.forPath(spark, dir).snapshot.files) == after,
      "fold must survive checkpoint removal (full replay)")
  }

  it("empty parquet checkpoint (delete-all) folds to an empty file set in both readers") {
    val dir = tmpTableDir("dsnap8")
    val t = GraftTable.create(spark, dir, spark.range(10).toDF("id"),
      properties = Map(graft.tables.GraftLog.CheckpointFormatProperty -> "parquet"))
    TableOps.delete(t, None) // delete-all: live file set becomes empty
    val log = new graft.tables.GraftLog(dir)
    val v = log.latestVersion()
    log.writeCheckpoint(v)
    // the dir sidecar exists but holds ZERO part files — the explicit
    // schema on the executor read must fold it to empty, not die in
    // parquet schema inference
    assert(graft.tables.Fs.isDirectory(log.checkpointParquetDir(v)))
    assert(DistributedSnapshot.addFiles(spark, dir, v).isEmpty)
    assert(log.snapshot(v).files.isEmpty)
    assert(DistributedSnapshot.prunedFiles(spark, dir, "id = 3").isEmpty)
  }

  it("partition pruning works executor-side on a partitioned table") {
    val dir = tmpTableDir("dsnap5")
    GraftTable.create(spark, dir,
      spark.range(100).select(col("id"), (col("id") % 5).cast("string").as("part")),
      partitionColumns = Seq("part"))
    val all = DistributedSnapshot.addFiles(spark, dir)
    val one = DistributedSnapshot.prunedFiles(spark, dir, "part = '3'")
    assert(one.nonEmpty && one.size < all.size)
    assert(one.forall(_.partitionValues("part") == "3"))
  }
}
