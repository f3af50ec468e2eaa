package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funspec.AnyFunSpec

import graft.sql._
import graft.tables.GraftTable

class GraftSqlCommandSpec extends AnyFunSpec with SparkSessionTestWrapper {
  import spark.implicits._

  describe("GraftSqlParser grammar") {
    def parse(sql: String) = GraftSqlParser.parseMaintenance(sql)

    it("parses every statement form and path quoting") {
      // bare graft_cat.* claims below depend on the catalog being
      // registered — force the shared registration before parsing
      val _ = SparkSessionTestWrapper.catalogWarehouse
      assert(parse("OPTIMIZE '/tmp/t'") ==
        Some(GraftOptimizeCommand("/tmp/t", None, Nil)))
      assert(parse("optimize graft.`/tmp/t` where id > 3 ZORDER BY (a, `b`)") ==
        Some(GraftOptimizeCommand("/tmp/t", Some("id > 3"), Seq("a", "b"))))
      assert(parse("OPTIMIZE \"/tmp/t\" ZORDER BY a") ==
        Some(GraftOptimizeCommand("/tmp/t", None, Seq("a"))))
      assert(parse("VACUUM '/tmp/t'") ==
        Some(GraftVacuumCommand("/tmp/t", None, dryRun = false)))
      assert(parse("VACUUM '/tmp/t' RETAIN 168 HOURS DRY RUN") ==
        Some(GraftVacuumCommand("/tmp/t", Some(168.0), dryRun = true)))
      assert(parse("VACUUM '/tmp/t' LITE RETAIN 168 HOURS") ==
        Some(GraftVacuumCommand("/tmp/t", Some(168.0), dryRun = false, lite = true)))
      assert(parse("vacuum graft.`/tmp/t` full dry run") ==
        Some(GraftVacuumCommand("/tmp/t", None, dryRun = true)))
      assert(parse("ALTER TABLE '/tmp/t' ALTER COLUMN c SYNC IDENTITY") ==
        Some(GraftSyncIdentityCommand("/tmp/t", "c")))
      assert(parse("REORG TABLE '/tmp/t' APPLY (PURGE)") ==
        Some(GraftReorgCommand("/tmp/t", None)))
      assert(parse("reorg table graft.`/tmp/t` where p = 3 apply (purge)") ==
        Some(GraftReorgCommand("/tmp/t", Some("p = 3"))))
      assert(parse("ALTER TABLE '/tmp/t' ALTER COLUMN c SET NOT NULL") ==
        Some(GraftSetNullabilityCommand("/tmp/t", "c", nullable = false)))
      assert(parse("alter table graft.`/tmp/t` change column s.leaf drop not null") ==
        Some(GraftSetNullabilityCommand("/tmp/t", "s.leaf", nullable = true)))
      assert(parse("RESTORE TABLE '/tmp/t' TO VERSION AS OF 4") ==
        Some(GraftRestoreCommand("/tmp/t", Some(4L), None)))
      assert(parse("RESTORE '/tmp/t' TIMESTAMP AS OF '2026-01-01 00:00:00'") ==
        Some(GraftRestoreCommand("/tmp/t", None, Some("2026-01-01 00:00:00"))))
      assert(parse("FSCK REPAIR TABLE '/tmp/t' DRY RUN") ==
        Some(GraftFsckCommand("/tmp/t", dryRun = true)))
      assert(parse("GENERATE symlink_format_manifest FOR TABLE '/tmp/t'") ==
        Some(GraftGenerateManifestCommand("/tmp/t")))
      assert(parse("ANALYZE TABLE '/tmp/t' COMPUTE STATISTICS") ==
        Some(GraftAnalyzeCommand("/tmp/t")))
      assert(parse("ANALYZE '/tmp/t' COMPUTE STATISTICS;") ==
        Some(GraftAnalyzeCommand("/tmp/t")))
      assert(parse("ANALYZE TABLE '/tmp/t'").isEmpty) // Spark's own ANALYZE shapes pass through
      assert(parse("DESCRIBE HISTORY graft.'/tmp/t'") ==
        Some(GraftDescribeHistoryCommand("/tmp/t")))
      assert(parse("DESC HISTORY `/tmp/t`;") ==
        Some(GraftDescribeHistoryCommand("/tmp/t")))
    }

    it("maintenance statements accept UNQUOTED multi-part identifiers") {
      // Delta's `OPTIMIZE events` ergonomics for statements outside
      // Spark's grammar; single-word bare names are never claimed
      assert(parse("OPTIMIZE graft_cat.ns.t ZORDER BY (a)") ==
        Some(GraftOptimizeCommand("graft_cat.ns.t", None, Seq("a"))))
      assert(parse("VACUUM graft_cat.ns.t RETAIN 24 HOURS") ==
        Some(GraftVacuumCommand("graft_cat.ns.t", Some(24.0), dryRun = false)))
      assert(parse("RESTORE TABLE graft_cat.ns.t TO VERSION AS OF 2") ==
        Some(GraftRestoreCommand("graft_cat.ns.t", Some(2L), None)))
      assert(parse("DESCRIBE HISTORY graft_cat.ns.t") ==
        Some(GraftDescribeHistoryCommand("graft_cat.ns.t")))
      assert(parse("DESC DETAIL graft_cat.ns.t") ==
        Some(GraftDescribeDetailCommand("graft_cat.ns.t")))
      assert(parse("FSCK REPAIR TABLE graft_cat.ns.t") ==
        Some(GraftFsckCommand("graft_cat.ns.t", dryRun = false)))
      // ALTER COLUMN TYPE follows the DML claim rule (Spark grammar too)
      assert(parse("ALTER TABLE '/tmp/t' ALTER COLUMN c TYPE BIGINT") ==
        Some(GraftAlterColumnTypeCommand("/tmp/t", "c", "BIGINT")))
      assert(parse("ALTER TABLE graft.`/tmp/t` CHANGE COLUMN c SET DATA TYPE DOUBLE") ==
        Some(GraftAlterColumnTypeCommand("/tmp/t", "c", "DOUBLE")))
      assert(parse("ALTER TABLE hive_db.tbl ALTER COLUMN c TYPE BIGINT").isEmpty)
      // single-part bare names stay unclaimed (could be anything)
      assert(parse("OPTIMIZE events").isEmpty)
      // bare identifiers NOT plausibly graft's (no graft catalog qualifier,
      // no registration, unresolvable) fall through to the delegate parser
      // — a coexisting extension (e.g. Delta) must get its own tables back
      assert(parse("OPTIMIZE other_cat.ns.delta_tbl ZORDER BY (a)").isEmpty)
      assert(parse("VACUUM other_cat.ns.delta_tbl RETAIN 24 HOURS").isEmpty)
      assert(parse("DESCRIBE HISTORY other_cat.ns.delta_tbl").isEmpty)
      assert(parse("RESTORE TABLE other_cat.ns.delta_tbl TO VERSION AS OF 2").isEmpty)
      assert(parse("FSCK REPAIR TABLE other_cat.ns.delta_tbl").isEmpty)
      // Spark's OWN grammar is never shadowed: ANALYZE on a bare catalog
      // identifier, and all DML on bare identifiers, pass through (DML on
      // graft catalog tables is served by the native V2 row-level path)
      assert(parse("ANALYZE TABLE hive_db.tbl COMPUTE STATISTICS").isEmpty)
      assert(parse("DELETE FROM sales.t WHERE id = 1").isEmpty)
      assert(parse("UPDATE sales.t SET a = 1").isEmpty)
      assert(parse("MERGE INTO sales.t AS x USING s ON x.id = s.id " +
        "WHEN MATCHED THEN DELETE").isEmpty)
    }

    it("parses DML with paren- and quote-aware SET splitting") {
      assert(parse("DELETE FROM '/tmp/t' WHERE id < 5") ==
        Some(GraftDeleteCommand("/tmp/t", Some("id < 5"))))
      assert(parse("DELETE FROM graft.`/tmp/t`") ==
        Some(GraftDeleteCommand("/tmp/t", None)))
      assert(parse("UPDATE '/tmp/t' SET a = concat(b, ',', c), d = 'x,y' WHERE e > 1") ==
        Some(GraftUpdateCommand("/tmp/t", Some("e > 1"),
          Seq("a" -> "concat(b, ',', c)", "d" -> "'x,y'"))))
      assert(parse("UPDATE '/tmp/t' SET `q` = q + 1") ==
        Some(GraftUpdateCommand("/tmp/t", None, Seq("q" -> "q + 1"))))
    }

    it("claims DML only for graft-qualified or path-shaped targets") {
      // backtick-quoted catalog identifiers belong to Spark's parser
      assert(parse("DELETE FROM `my_catalog_table` WHERE id = 1").isEmpty)
      assert(parse("UPDATE `events` SET a = 1").isEmpty)
      assert(parse("DELETE FROM \"events\" WHERE id = 1").isEmpty)
      // graft-qualified single-part names ARE ours, as are visible paths
      assert(parse("DELETE FROM graft.`events` WHERE id = 1") ==
        Some(GraftDeleteCommand("events", Some("id = 1"))))
      assert(parse("DELETE FROM `/tmp/t`") == Some(GraftDeleteCommand("/tmp/t", None)))
    }

    it("keeps clause keywords inside string literals out of the split") {
      assert(parse("UPDATE '/tmp/t' SET note = concat(note, ' WHERE x')") ==
        Some(GraftUpdateCommand("/tmp/t", None,
          Seq("note" -> "concat(note, ' WHERE x')"))))
      assert(parse("UPDATE '/tmp/t' SET a = ' where ' WHERE b = 1") ==
        Some(GraftUpdateCommand("/tmp/t", Some("b = 1"), Seq("a" -> "' where '"))))
      assert(parse("OPTIMIZE '/tmp/t' WHERE c = 'ZORDER BY x'") ==
        Some(GraftOptimizeCommand("/tmp/t", Some("c = 'ZORDER BY x'"), Nil)))
    }

    it("leaves ordinary Spark SQL alone") {
      assert(parse("SELECT 1").isEmpty)
      assert(parse("DESCRIBE TABLE t").isEmpty)
      // OPTIMIZE with no recognizable table reference is not claimed either:
      // it falls through to Spark, whose parser names the unknown statement
      assert(parse("OPTIMIZE t1").isEmpty)
      // catalog-table DML stays with Spark's parser / the table's connector
      assert(parse("DELETE FROM catalog_table WHERE id = 1").isEmpty)
      assert(parse("UPDATE catalog_table SET a = 1").isEmpty)
    }
  }

  describe("maintenance statements end-to-end") {
    it("DESCRIBE HISTORY / OPTIMIZE / VACUUM round-trip") {
      val t = GraftTable.create(spark, tmpTableDir("sql-maint"),
        (0 until 100).map(i => (i, s"v$i")).toDF("id", "name").repartition(4))
      t.append((100 until 200).map(i => (i, s"v$i")).toDF("id", "name").repartition(4))

      val hist = GraftSql.sql(spark, s"DESCRIBE HISTORY '${t.path}'")
      assert(hist.columns.toSeq ==
        Seq("version", "timestamp", "operation", "operationParameters", "operationMetrics"))
      assert(hist.count() == 2)

      val opt = GraftSql.sql(spark, s"OPTIMIZE '${t.path}'").collect().head
      assert(opt.getLong(1) == 8L, s"expected 8 removed, got $opt") // 8 small files in
      assert(opt.getLong(2) == 1L, s"expected 1 added, got $opt")
      assert(GraftTable.forPath(spark, t.path).toDF.count() == 200)

      val planned = GraftSql.sql(spark, s"VACUUM '${t.path}' RETAIN 0 HOURS DRY RUN")
      assert(planned.count() == 8) // the 8 compacted-away files
      val deleted = GraftSql.sql(spark, s"VACUUM '${t.path}' RETAIN 0 HOURS").collect().head.getLong(0)
      assert(deleted == 8L)
      // default retention (7 days) without RETAIN: nothing young deletes
      assert(GraftSql.sql(spark, s"VACUUM '${t.path}'").collect().head.getLong(0) == 0L)

      // LITE (log-only) skips the untracked-orphan listing; FULL sweeps it
      val orphan = java.nio.file.Paths.get(t.path, "part-sql-orphan.parquet")
      java.nio.file.Files.write(orphan, Array[Byte](1))
      java.nio.file.Files.setLastModifiedTime(orphan,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 7200000L))
      assert(GraftSql.sql(spark, s"VACUUM '${t.path}' LITE RETAIN 0 HOURS")
        .collect().head.getLong(0) == 0L)
      assert(java.nio.file.Files.exists(orphan))
      assert(GraftSql.sql(spark, s"VACUUM '${t.path}' FULL RETAIN 0 HOURS")
        .collect().head.getLong(0) == 1L)
      assert(!java.nio.file.Files.exists(orphan))
    }

    it("DESCRIBE DETAIL reports the snapshot summary") {
      val t = GraftTable.create(spark, tmpTableDir("sql-detail"),
        (0 until 50).map(i => (i, i % 5)).toDF("id", "part").repartition(2),
        partitionColumns = Seq("part"))
      val d = GraftSql.sql(spark, s"DESCRIBE DETAIL '${t.path}'").collect().head
      assert(d.getString(0) == "parquet+graftlog")
      assert(d.getString(1) == t.path)
      assert(d.getSeq[String](2) == Seq("part"))
      assert(d.getLong(4) == t.snapshot.numFiles)
      assert(d.getLong(5) == t.snapshot.sizeInBytes)
    }

    it("RESTORE and FSCK execute through SQL") {
      val t = GraftTable.create(spark, tmpTableDir("sql-restore"),
        Seq((1, "a")).toDF("id", "name").repartition(1))
      t.overwrite(Seq((2, "b")).toDF("id", "name"))
      val r = GraftSql.sql(spark, s"RESTORE TABLE '${t.path}' TO VERSION AS OF 0").collect().head
      assert(r.getLong(0) == 0L && r.getLong(1) == 2L)
      assert(GraftTable.forPath(spark, t.path).toDF.as[(Int, String)].collect().toSet ==
        Set((1, "a")))
      assert(GraftSql.sql(spark, s"FSCK REPAIR TABLE '${t.path}' DRY RUN").count() == 0)
      val gen = GraftSql.sql(spark,
        s"GENERATE symlink_format_manifest FOR TABLE '${t.path}'").collect().head
      assert(gen.getInt(0) == GraftTable.forPath(spark, t.path).snapshot.files.size)
      assert(graft.tables.SymlinkManifest.entries(t.path).nonEmpty)
    }

    it("DELETE and UPDATE execute through SQL with CDF and metrics intact") {
      val t = GraftTable.create(spark, tmpTableDir("sql-dml"),
        (0 until 100).map(i => (i, s"v$i")).toDF("id", "name").repartition(2),
        properties = Map("graft.enableChangeDataFeed" -> "true"))
      val del = GraftSql.sql(spark, s"DELETE FROM '${t.path}' WHERE id >= 90").collect().head
      assert(del.getLong(1) == 10L, s"expected 10 deleted: $del")
      val upd = GraftSql.sql(spark,
        s"UPDATE '${t.path}' SET name = concat(name, '!') WHERE id < 10").collect().head
      assert(upd.getLong(1) == 10L, s"expected 10 updated: $upd")
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.toDF.count() == 90)
      assert(t2.toDF.filter($"name" === "v0!").count() == 1)
      // the CDF carries the SQL-issued changes
      val cdf = spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(t.path)
      assert(cdf.filter($"_change_type" === "delete").count() == 10)
      assert(cdf.filter($"_change_type" === "update_postimage").count() == 10)
    }

    it("UPDATE on an unknown column fails loudly instead of no-opping") {
      val t = GraftTable.create(spark, tmpTableDir("sql-badcol"),
        Seq((1, "a")).toDF("id", "name"))
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, s"UPDATE '${t.path}' SET nope = 1").collect()
      }
      assert(e.getMessage.contains("nope"), e.getMessage)
    }

    it("plain OPTIMIZE re-clusters on graft.clusterBy") {
      import org.apache.spark.sql.functions.col
      val shuffled = scala.util.Random.shuffle((0 until 8192).toList).map(i => (i, s"v$i"))
      val t = GraftTable.create(spark, tmpTableDir("sql-opt-cluster"),
        shuffled.toDF("id", "name").repartition(8),
        properties = Map(graft.tables.TableWriter.ClusterByProperty -> "id",
          graft.tables.TableWriter.TargetFileSizeProperty -> "32768"))
      def survivors(cond: String): Int = {
        val t2 = GraftTable.forPath(spark, t.path)
        val c = graft.tables.FileSkipping.classify(spark, t2.toDF, cond)
        graft.tables.FileSkipping.filesMatching(t2.snapshot, c.all, None).size
      }
      assert(survivors("id = 99") == 8, "scattered fixture must not skip")
      GraftSql.sql(spark, s"OPTIMIZE '${t.path}'").collect()
      val after = GraftTable.forPath(spark, t.path)
      assert(after.snapshot.numFiles > 1, s"need multiple output files: ${after.snapshot.numFiles}")
      assert(survivors("id = 99") <= 2,
        s"OPTIMIZE on a clustered table must zorder: kept ${survivors("id = 99")}")
      assert(after.toDF.count() == 8192)
    }

    it("ZORDER BY through SQL clusters for skipping") {
      def rev(x: Int): Int = Integer.reverse(x) >>> (32 - 12)
      val rows = (0 until 4096).map(i => (i, rev(i)))
      val t = GraftTable.create(spark, tmpTableDir("sql-zorder"),
        rows.toDF("x", "y").repartition(8))
      GraftSql.sql(spark, s"OPTIMIZE '${t.path}' ZORDER BY (x, y)").collect()
      val t2 = GraftTable.forPath(spark, t.path)
      val classified = graft.tables.FileSkipping.classify(
        spark, t2.toDF, "x >= 0 AND x <= 255")
      assert(graft.tables.FileSkipping
        .filesMatching(t2.snapshot, classified.all, None).size < t2.snapshot.numFiles ||
        t2.snapshot.numFiles == 1)
      assert(t2.toDF.count() == 4096)
    }
  }

  describe("MERGE INTO") {
    def parse(sql: String) = GraftSqlParser.parseMaintenance(sql)

    it("parses the full clause grammar") {
      val m = parse(
        """MERGE INTO '/tmp/t' AS tgt USING (SELECT * FROM src WHERE x ON y) AS s
          |ON tgt.id = s.id
          |WHEN MATCHED AND s.del = true THEN DELETE
          |WHEN MATCHED THEN UPDATE SET name = s.name, qty = tgt.qty + s.qty
          |WHEN NOT MATCHED THEN INSERT (id, name) VALUES (s.id, upper(s.name))""".stripMargin)
      assert(m == Some(GraftMergeCommand("/tmp/t", Some("tgt"),
        Some("SELECT * FROM src WHERE x ON y"), None, None, Some("s"),
        "tgt.id = s.id",
        Seq(
          MergeClauseSpec(matched = true, Some("s.del = true"), "delete", None),
          MergeClauseSpec(matched = true, None, "update",
            Some(Seq("name" -> "s.name", "qty" -> "tgt.qty + s.qty"))),
          MergeClauseSpec(matched = false, None, "insert",
            Some(Seq("id" -> "s.id", "name" -> "upper(s.name)")))))), s"got $m")
      assert(parse("MERGE INTO '/t' USING v ON a = b WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *") ==
        Some(GraftMergeCommand("/t", None, None, Some("v"), None, None, "a = b",
          Seq(MergeClauseSpec(matched = true, None, "update", None),
            MergeClauseSpec(matched = false, None, "insert", None)))))
      // catalog target stays with Spark
      assert(parse("MERGE INTO `events` USING v ON a = b WHEN MATCHED THEN DELETE").isEmpty)
    }

    it("handles CASE WHEN expressions, bare aliases, and catalog sources") {
      // CASE WHEN inside SET must not be mistaken for a clause boundary
      val m = parse(
        "MERGE INTO '/t' tgt USING v s ON tgt.id = s.id " +
          "WHEN MATCHED THEN UPDATE SET name = CASE WHEN s.x THEN 'a' ELSE 'b' END " +
          "WHEN NOT MATCHED THEN INSERT *")
      assert(m == Some(GraftMergeCommand("/t", Some("tgt"), None, Some("v"), None,
        Some("s"), "tgt.id = s.id",
        Seq(MergeClauseSpec(matched = true, None, "update",
          Some(Seq("name" -> "CASE WHEN s.x THEN 'a' ELSE 'b' END"))),
          MergeClauseSpec(matched = false, None, "insert", None)))), s"got $m")
      // backtick-quoted source is a CATALOG name unless graft-qualified
      val m2 = parse("MERGE INTO '/t' USING `my_view` AS s ON a = s.b WHEN MATCHED THEN DELETE")
      assert(m2.collect { case c: GraftMergeCommand => (c.sourceTable, c.sourcePath) } ==
        Some((Some("my_view"), None)), s"got $m2")
      val m3 = parse("MERGE INTO '/t' USING graft.`/src` s ON a = s.b WHEN MATCHED THEN DELETE")
      assert(m3.collect { case c: GraftMergeCommand => c.sourcePath } ==
        Some(Some("/src")), s"got $m3")
    }

    it("WHEN NOT MATCHED BY SOURCE syncs deletes and flags stale rows") {
      val t = GraftTable.create(spark, tmpTableDir("sql-merge-bysource"),
        (0 until 100).map(i => (i, s"v$i", "live")).toDF("id", "name", "status")
          .repartition(2),
        properties = Map("graft.enableChangeDataFeed" -> "true"))
      // source covers ids 0..59: 40 target rows are NOT matched by source
      (0 until 60).map(i => (i, s"n$i")).toDF("id", "name")
        .createOrReplaceTempView("bysource_src")
      val r = GraftSql.sql(spark,
        s"""MERGE INTO '${t.path}' AS tgt USING bysource_src AS s ON tgt.id = s.id
           |WHEN MATCHED THEN UPDATE SET name = s.name
           |WHEN NOT MATCHED BY SOURCE AND tgt.id >= 90 THEN DELETE
           |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'stale'
           |""".stripMargin).collect().head
      assert(r.getLong(1) == 60 + 30, s"updated (matched 60 + stale 30): $r")
      assert(r.getLong(2) == 10L, s"deleted (ids 90..99): $r")
      val after = GraftTable.forPath(spark, t.path).toDF
      assert(after.count() == 90)
      assert(after.filter($"status" === "stale").count() == 30)       // ids 60..89
      assert(after.filter($"id" >= 90).count() == 0)
      assert(after.filter($"id" === 10).select("name").head.getString(0) == "n10")
      // CDF carries the by-source changes like any other
      val cdf = spark.read.format("graft").option("readChangeFeed", "true")
        .option("startingVersion", "1").load(t.path)
      assert(cdf.filter($"_change_type" === "delete").count() == 10)
      assert(cdf.filter($"_change_type" === "update_postimage" && $"status" === "stale")
        .count() == 30)
    }

    it("rejects an unconditional clause that shadows a later one") {
      val t = GraftTable.create(spark, tmpTableDir("sql-merge-shadow"),
        Seq((1, "a")).toDF("id", "name"))
      Seq((1, "b", true)).toDF("id", "name", "del").createOrReplaceTempView("shadow_src")
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          s"""MERGE INTO '${t.path}' AS tgt USING shadow_src AS s ON tgt.id = s.id
             |WHEN MATCHED THEN UPDATE SET name = s.name
             |WHEN MATCHED AND s.del THEN DELETE""".stripMargin).collect()
      }
      assert(e.getMessage.contains("LAST WHEN MATCHED"), e.getMessage)
    }

    it("executes upsert + delete against a recomputation") {
      val t = GraftTable.create(spark, tmpTableDir("sql-merge"),
        (0 until 100).map(i => (i, s"v$i", 1)).toDF("id", "name", "qty").repartition(2))
      (50 until 150).map(i => (i, s"n$i", 10, i % 10 == 0))
        .toDF("id", "name", "qty", "del").createOrReplaceTempView("merge_src")
      val r = GraftSql.sql(spark,
        s"""MERGE INTO '${t.path}' AS tgt USING merge_src AS s ON tgt.id = s.id
           |WHEN MATCHED AND s.del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET name = s.name, qty = tgt.qty + s.qty
           |WHEN NOT MATCHED AND NOT s.del THEN INSERT (id, name, qty) VALUES (s.id, s.name, s.qty)
           |""".stripMargin).collect().head
      // matched ids 50..99: 5 are del-multiples (50,60,70,80,90) → deleted;
      // 45 updated. not-matched 100..149: 5 del-multiples skipped → 45 inserted
      assert(r.getLong(1) == 45L, s"updated: $r")
      assert(r.getLong(2) == 5L, s"deleted: $r")
      assert(r.getLong(3) == 45L, s"inserted: $r")
      val after = GraftTable.forPath(spark, t.path).toDF
      assert(after.count() == 100 - 5 + 45)
      assert(after.filter($"id" === 60).count() == 0)          // deleted
      assert(after.filter($"id" === 55).select("qty").head.getInt(0) == 11) // updated
      assert(after.filter($"id" === 101).select("name").head.getString(0) == "n101") // inserted
      assert(after.filter($"id" === 10).select("name").head.getString(0) == "v10")   // untouched
    }
  }

  describe("ALTER TABLE and SHOW TBLPROPERTIES") {
    it("parses the ALTER family with the same claim rule as DML") {
      def parse(sql: String) = GraftSqlParser.parseMaintenance(sql)
      assert(parse("ALTER TABLE '/tmp/t' SET TBLPROPERTIES ('a' = '1', b = c)") ==
        Some(GraftAlterPropertiesCommand("/tmp/t", Seq("a" -> "1", "b" -> "c"), Nil)))
      assert(parse("ALTER TABLE '/tmp/t' UNSET TBLPROPERTIES (a, 'b')") ==
        Some(GraftAlterPropertiesCommand("/tmp/t", Nil, Seq("a", "b"))))
      assert(parse("ALTER TABLE '/tmp/t' ADD COLUMNS (x INT, y STRING)") ==
        Some(GraftAddColumnsCommand("/tmp/t", "x INT, y STRING")))
      assert(parse("ALTER TABLE '/tmp/t' ADD CONSTRAINT pos CHECK (id > 0)") ==
        Some(GraftAddConstraintCommand("/tmp/t", "pos", "id > 0")))
      assert(parse("ALTER TABLE '/tmp/t' DROP CONSTRAINT pos") ==
        Some(GraftDropConstraintCommand("/tmp/t", "pos")))
      assert(parse("SHOW TBLPROPERTIES '/tmp/t'") ==
        Some(GraftShowPropertiesCommand("/tmp/t")))
      // catalog-shaped targets stay with Spark
      assert(parse("ALTER TABLE `events` SET TBLPROPERTIES (a = 1)").isEmpty)
      assert(parse("SHOW TBLPROPERTIES `events`").isEmpty)
    }

    it("round-trips properties, columns and constraints through SQL") {
      val t = GraftTable.create(spark, tmpTableDir("sql-alter"),
        Seq((1, "a"), (2, "b")).toDF("id", "name"))
      GraftSql.sql(spark, s"ALTER TABLE '${t.path}' SET TBLPROPERTIES ('owner' = 'me')").collect()
      val shown = GraftSql.sql(spark, s"SHOW TBLPROPERTIES '${t.path}'")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(shown("owner") == "me")
      GraftSql.sql(spark, s"ALTER TABLE '${t.path}' UNSET TBLPROPERTIES (owner)").collect()
      assert(!GraftTable.forPath(spark, t.path).snapshot.metadata.properties.contains("owner"))

      GraftSql.sql(spark, s"ALTER TABLE '${t.path}' ADD COLUMNS (score DOUBLE)").collect()
      val t2 = GraftTable.forPath(spark, t.path)
      assert(t2.snapshot.schema.fieldNames.toSeq == Seq("id", "name", "score"))
      // existing rows read the new column as null; appends can fill it
      assert(t2.toDF.filter($"score".isNull).count() == 2)
      t2.append(Seq((3, "c", 0.5)).toDF("id", "name", "score"))
      assert(t2.toDF.filter($"score".isNotNull).count() == 1)
      // duplicate column rejected — against the schema AND within the list
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, s"ALTER TABLE '${t.path}' ADD COLUMNS (NAME STRING)").collect()
      }
      assert(e.getMessage.contains("already exist"), e.getMessage)
      val e2 = intercept[IllegalArgumentException] {
        GraftSql.sql(spark,
          s"ALTER TABLE '${t.path}' ADD COLUMNS (extra INT, EXTRA STRING)").collect()
      }
      assert(e2.getMessage.contains("more than once"), e2.getMessage)

      GraftSql.sql(spark, s"ALTER TABLE '${t.path}' ADD CONSTRAINT pos CHECK (id > 0)").collect()
      val bad = intercept[Exception] {
        t2.append(Seq((-1, "bad", 1.0)).toDF("id", "name", "score"))
      }
      assert(graft.Causes.messages(bad).exists(_.contains("pos")), bad.getMessage)
      GraftSql.sql(spark, s"ALTER TABLE '${t.path}' DROP CONSTRAINT pos").collect()
      t2.append(Seq((-1, "ok-now", 1.0)).toDF("id", "name", "score"))
      assert(GraftTable.forPath(spark, t.path).toDF.count() == 4)
    }
  }

  describe("CONVERT TO GRAFT") {
    import org.apache.spark.sql.functions.{col, format_string}

    it("converts a plain parquet directory in place, keeping bytes and gaining skipping") {
      val dir = tmpTableDir("convert-plain")
      val df = (0 until 1000).map(i => (i, s"v$i")).toDF("id", "name")
      df.repartition(4).sortWithinPartitions("id").write.parquet(dir)
      val before = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      val parquetBefore = try {
        import scala.jdk.CollectionConverters._
        before.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toList.map(_.toString)
      } finally before.close()

      val n = GraftSql.sql(spark, s"CONVERT TO GRAFT '$dir'").collect().head.getLong(0)
      assert(n == 4L)
      val t = GraftTable.forPath(spark, dir)
      assert(t.toDF.count() == 1000)
      assert(t.version == 0L)
      // no byte moved: the same physical files are referenced
      assert(t.snapshot.files.map(f => java.nio.file.Paths.get(dir, f.path).toString).toSet ==
        parquetBefore.toSet)
      // footer stats were harvested: a point filter skips files
      val classified = graft.tables.FileSkipping.classify(spark, t.toDF, "id = 3")
      assert(graft.tables.FileSkipping.filesMatching(t.snapshot, classified.all, None).size < 4)
      // the converted table is a first-class citizen: append + time travel
      t.append(Seq((1000, "x")).toDF("id", "name"))
      assert(t.toDF.count() == 1001 && t.toDFAt(0).count() == 1000)
    }

    it("pins numeric-looking string partition values via PARTITIONED BY") {
      val dir = tmpTableDir("convert-part")
      (0 until 90).map(i => (i, f"${i % 3}%02d")).toDF("id", "part")
        .write.partitionBy("part").parquet(dir)
      GraftSql.sql(spark, s"CONVERT TO GRAFT '$dir' PARTITIONED BY (part STRING)").collect()
      val t = GraftTable.forPath(spark, dir)
      assert(t.snapshot.metadata.partitionColumns == Seq("part"))
      assert(t.snapshot.schema("part").dataType == org.apache.spark.sql.types.StringType)
      assert(t.toDF.select("part").distinct().collect().map(_.getString(0)).toSet ==
        Set("00", "01", "02"))
      // partition pruning works through the converted metadata
      assert(t.toDF.filter(col("part") === "01").count() == 30)
    }

    it("a converted table inherits session default properties, like create") {
      val dir = tmpTableDir("convert-defaults")
      (1 to 10).map(i => (i, s"v$i")).toDF("id", "name").coalesce(1).write.parquet(dir)
      spark.conf.set(GraftTable.DefaultsPrefix + "enableChangeDataFeed", "true")
      try {
        val t = GraftTable.convert(spark, dir)
        assert(t.snapshot.cdfEnabled, t.snapshot.metadata.properties)
        graft.operators.TableOps.update(t, Some("id = 3"), Map("name" -> "'x'"))
        val changes = graft.log.ChangeDataFeedHelper(spark, dir, 1, 1).readCDF
          .select("id", "name", "_change_type").collect()
          .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
        assert(changes == Set((3, "v3", "update_preimage"), (3, "x", "update_postimage")))
      } finally spark.conf.unset(GraftTable.DefaultsPrefix + "enableChangeDataFeed")
    }

    it("refuses an existing graft table and an empty directory") {
      val t = GraftTable.create(spark, tmpTableDir("convert-already"),
        Seq((1, "a")).toDF("id", "name"))
      val e1 = intercept[IllegalArgumentException] {
        GraftTable.convert(spark, t.path)
      }
      assert(e1.getMessage.contains("already a graft table"))
      val empty = java.nio.file.Files.createTempDirectory("convert-empty").toString
      val e2 = intercept[IllegalArgumentException] {
        GraftTable.convert(spark, empty)
      }
      assert(e2.getMessage.contains("nothing to convert"))
    }
  }

  describe("CREATE TABLE AS SELECT") {
    it("CTAS through USING graft materializes a real graft table") {
      val loc = tmpTableDir("sql-ctas")
      spark.sql(s"CREATE TABLE graft_ctas_spec USING graft LOCATION '$loc' " +
        "AS SELECT id, id % 7 AS k FROM range(1000)")
      try {
        assert(spark.table("graft_ctas_spec").count() == 1000)
        val t = GraftTable.forPath(spark, loc)
        assert(t.version == 0L && t.toDF.count() == 1000)
        // it is a full table: DML and history work on it
        GraftSql.sql(spark, s"DELETE FROM '$loc' WHERE k = 0").collect()
        assert(GraftTable.forPath(spark, loc).toDF.count() == 1000 - 143)
      } finally spark.sql("DROP TABLE IF EXISTS graft_ctas_spec")
    }
  }

  describe("session extension registration") {
    it("spark.sql() understands the grammar when the extension is registered") {
      val t = GraftTable.create(spark, tmpTableDir("sql-ext"),
        Seq((1, "a"), (2, "b")).toDF("id", "name")
          .repartitionByRange(2, org.apache.spark.sql.functions.col("id")))
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      try {
        // withExtensions: the in-process registration route (the config form
        // `spark.sql.extensions=graft.sql.GraftSparkSessionExtension` is
        // static and only applies when set before the first session)
        val ext = SparkSession.builder()
          .withExtensions(new GraftSparkSessionExtension)
          .getOrCreate()
        assert(ext ne spark) // a fresh session over the shared context
        assert(ext.sql(s"DESCRIBE HISTORY '${t.path}'").count() == 1)
        assert(ext.sql(s"OPTIMIZE '${t.path}'").collect().head.getLong(2) == 1L)
        // plain SQL still parses in the extended session
        assert(ext.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
      } finally {
        SparkSession.setDefaultSession(spark)
        SparkSession.setActiveSession(spark)
      }
    }
  }
}
