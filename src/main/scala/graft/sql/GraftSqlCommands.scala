package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types._

import graft.operators.{BoundExpr, TableOps}
import graft.tables.{AddFile, GraftTable, RemoveFile}

/** Maintenance statements as runnable commands (Delta's SQL surface shape:
  * `OPTIMIZE` / `VACUUM` / `RESTORE` / `FSCK REPAIR TABLE` /
  * `DESCRIBE HISTORY`). Each wraps the corresponding [[TableOps]] /
  * [[GraftTable]] operation; the SQL grammar lives in [[GraftSqlParser]].
  * All driver work here is O(log metadata) — the heavy lifting stays in the
  * distributed operation the command delegates to.
  */
case class GraftOptimizeCommand(
    path: String, where: Option[String], zorderBy: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numFilesRemoved", LongType, nullable = false)(),
    AttributeReference("numFilesAdded", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val before = t.version
    // honor the table's configured file sizing, like optimizeWrite and
    // autoCompact do — SQL OPTIMIZE must not re-split a 1 GB-binned table
    // back to the 128 MB default
    val target = t.snapshot.metadata.properties
      .get(graft.tables.TableWriter.TargetFileSizeProperty).map(_.trim.toLong)
      .getOrElse(graft.tables.TableWriter.DefaultTargetFileSize)
    // a clustered table's plain OPTIMIZE re-clusters on graft.clusterBy
    // (Delta's CLUSTER BY shape) instead of round-robin compacting —
    // resolved with the same case-insensitive rule as the write path, and
    // only the zorder-supported columns (an unsupported-type cluster
    // column degrades to plain compaction, never a hard failure)
    val effectiveZorder =
      if (zorderBy.nonEmpty) zorderBy
      else graft.tables.TableWriter
        .clusterByColumns(t.snapshot.metadata.properties, t.snapshot.schema)
        .filter { c =>
          t.snapshot.schema(c).dataType match {
            case _: org.apache.spark.sql.types.NumericType => true
            case org.apache.spark.sql.types.DateType |
                 org.apache.spark.sql.types.TimestampType |
                 org.apache.spark.sql.types.StringType => true
            case _ => false
          }
        }
    val v =
      if (effectiveZorder.nonEmpty) TableOps.zorder(t, effectiveZorder, where, target)
      else TableOps.compact(t, where, target)
    if (v == before) Seq(Row(v, 0L, 0L)) // no-op: nothing worth rewriting
    else {
      val actions = t.log.actionsAt(v)
      Seq(Row(v,
        actions.count(_.isInstanceOf[RemoveFile]).toLong,
        actions.count(_.isInstanceOf[AddFile]).toLong))
    }
  }
}

/** `REORG TABLE ... [WHERE p] APPLY (PURGE)` — rewrite exactly the
  * DV-carrying files ([[TableOps.reorgPurge]]).
  */
case class GraftReorgCommand(path: String, where: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(TableOps.reorgPurge(t, where)))
  }
}

/** `VACUUM ... [LITE | FULL]` — LITE (Delta 4.0's keyword) derives dead
  * files from the log only, skipping the directory listing that sweeps
  * untracked write orphans; FULL (the default, like Delta's) lists.
  */
case class GraftVacuumCommand(
    path: String, retainHours: Option[Double], dryRun: Boolean,
    lite: Boolean = false)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    if (dryRun) Seq(AttributeReference("path", StringType, nullable = false)())
    else Seq(AttributeReference("numFilesDeleted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    (retainHours, dryRun) match {
      case (Some(h), true)  => TableOps.vacuumDryRun(t, h, lite).map(Row(_))
      case (Some(h), false) => Seq(Row(TableOps.vacuum(t, h, lite).toLong))
      case (None, true)     => TableOps.vacuumDryRun(t, lite).map(Row(_))
      case (None, false)    => Seq(Row(TableOps.vacuum(t, lite).toLong))
    }
  }
}

case class GraftRestoreCommand(
    path: String, version: Option[Long], timestamp: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("restoredVersion", LongType, nullable = false)(),
    AttributeReference("committedVersion", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    // resolve the target HERE (shared monotonized rule) so the reported
    // restoredVersion is the resolved target even for a no-op restore
    val target = (version, timestamp) match {
      case (Some(v), None) => v
      case (None, Some(ts)) =>
        val tz = spark.sessionState.conf.sessionLocalTimeZone
        val millis = graft.sources.GraftDataSource.parseTimestampMillis(ts.trim, tz)
        t.log.versionAtOrBefore(millis).getOrElse(throw new IllegalArgumentException(
          s"cannot restore $path: '$ts' is before the table's first commit"))
      case _ => throw new IllegalArgumentException(
        "RESTORE needs exactly one of VERSION AS OF / TIMESTAMP AS OF")
    }
    Seq(Row(target, TableOps.restore(t, target)))
  }
}

case class GraftFsckCommand(path: String, dryRun: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("removedFile", StringType, nullable = false)(),
    AttributeReference("dryRun", BooleanType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    TableOps.fsck(t, dryRun).map(Row(_, dryRun))
  }
}

/** `ANALYZE [TABLE] '<path>' COMPUTE STATISTICS` — footer-stats backfill
  * for foreign-written files ([[graft.operators.TableOps.computeStats]]).
  */
case class GraftAnalyzeCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("filesAnalyzed", org.apache.spark.sql.types.IntegerType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(TableOps.computeStats(t)))
  }
}

/** `GENERATE symlink_format_manifest FOR TABLE '<path>'` — Delta's
  * external-reader interop statement (see
  * [[graft.tables.SymlinkManifest]]).
  */
case class GraftGenerateManifestCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("entries", org.apache.spark.sql.types.IntegerType,
      nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(TableOps.generateManifest(t)))
  }
}

/** One `WHEN [NOT] MATCHED [BY SOURCE|TARGET] [AND cond] THEN <action>`
  * clause whose condition and assignment values are `A`s: SQL text as
  * graft's parser reads them, [[GraftRowLevelRewrite.SqlPart]]s from a
  * native MERGE, [[BoundExpr]]s to execute. `assignments` is None for the
  * `*` (all-columns) action forms.
  */
case class MergeClauseSpec[+A](
    matched: Boolean,
    condition: Option[A],
    action: String, // "update" | "delete" | "insert"
    assignments: Option[Seq[(String, A)]],
    bySource: Boolean = false) {
  def map[B](f: A => B): MergeClauseSpec[B] = MergeClauseSpec(matched, condition.map(f),
    action, assignments.map(_.map { case (k, v) => k -> f(v) }), bySource)
}

case class GraftMergeCommand(
    path: String,
    targetAlias: Option[String],
    sourceQuery: Option[String],  // (subquery) form
    sourceTable: Option[String],  // catalog table/view form
    sourcePath: Option[String],   // quoted graft-table path form
    sourceAlias: Option[String],
    condition: String,
    clauses: Seq[MergeClauseSpec[String]])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numTargetRowsUpdated", LongType, nullable = false)(),
    AttributeReference("numTargetRowsDeleted", LongType, nullable = false)(),
    AttributeReference("numTargetRowsInserted", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val source = (sourceQuery, sourceTable, sourcePath) match {
      case (Some(q), _, _) => spark.sql(q)
      case (_, Some(n), _) => spark.table(n)
      case (_, _, Some(p)) => GraftSqlCommands.resolveTarget(spark, p).toDF
      case _ => throw new IllegalArgumentException("MERGE USING needs a source")
    }
    GraftMergeExec.run(t, targetAlias.getOrElse("target"), source, sourceAlias,
      condition, clauses.map(_.map(BoundExpr.Text)))
  }
}

/** Shared MERGE execution for BOTH SQL surfaces — graft's own
  * ``MERGE INTO graft.`path` `` grammar ([[GraftMergeCommand]]) and native
  * `MERGE INTO graft_cat.ns.t` converted by
  * [[GraftRowLevelRewrite]] — so clause validation, the builder wiring and
  * the metrics row stay one implementation.
  */
private[sql] object GraftMergeExec {
  import graft.operators.GraftMerge

  def run(
      t: GraftTable,
      targetAlias: String,
      source: org.apache.spark.sql.DataFrame,
      sourceAlias: Option[String],
      condition: String,
      clauses: Seq[MergeClauseSpec[BoundExpr]],
      schemaEvolution: Boolean = false): Seq[Row] = {
    // first-match-wins clause evaluation: an unconditional clause followed
    // by a conditional one of the same match-kind makes the later clause
    // unreachable — reject it (Delta errors on this shape too) instead of
    // silently updating rows the user meant to delete
    Seq[(String, MergeClauseSpec[BoundExpr] => Boolean)](
        ("MATCHED", _.matched),
        ("NOT MATCHED", c => !c.matched && !c.bySource),
        ("NOT MATCHED BY SOURCE", _.bySource))
      .foreach { case (label, pick) =>
        val ofKind = clauses.filter(pick)
        ofKind.zipWithIndex.foreach { case (c, i) =>
          if (c.condition.isEmpty && i < ofKind.size - 1)
            throw new IllegalArgumentException(
              s"only the LAST WHEN $label clause may omit its AND condition " +
                "— earlier clauses would shadow every later one")
        }
      }
    val base = GraftMerge(t, targetAlias).merge(source, condition, sourceAlias)
    val withEvolution = if (schemaEvolution) base.withSchemaEvolution() else base
    val builder = clauses.foldLeft(withEvolution) { (b, c) =>
      (c.matched, c.bySource, c.action, c.assignments) match {
        case (true, _, "update", Some(set)) => b.whenMatchedUpdateF(set.toMap, c.condition)
        case (true, _, "update", None)      => b.whenMatchedUpdateAllF(c.condition)
        case (true, _, "delete", _)         => b.whenMatchedDeleteF(c.condition)
        case (false, false, "insert", Some(vs)) =>
          b.whenNotMatchedInsertF(vs.toMap, c.condition)
        case (false, false, "insert", None) => b.whenNotMatchedInsertAllF(c.condition)
        case (false, true, "update", Some(set)) =>
          b.whenNotMatchedBySourceUpdateF(set.toMap, c.condition)
        case (false, true, "delete", _) => b.whenNotMatchedBySourceDeleteF(c.condition)
        case other => throw new IllegalArgumentException(s"unsupported MERGE clause: $other")
      }
    }
    val v = builder.execute()
    val metrics = t.log.actionsAt(v)
      .collectFirst { case ci: graft.tables.CommitInfo => ci.operationMetrics }
      .getOrElse(Map.empty[String, String])
    def metric(key: String): Long = metrics.get(key).map(_.toLong).getOrElse(0L)
    Seq(Row(v, metric("numTargetRowsUpdated"), metric("numTargetRowsDeleted"),
      metric("numTargetRowsInserted")))
  }
}

/** INSERT OVERWRITE under dynamic partition-overwrite mode, rewritten by
  * [[GraftRowLevelRewrite]] — Spark's `OverwritePartitionsDynamic` has no
  * V1-write fallback exec, so it lands here: ONE commit replaces exactly
  * the partitions the query's rows land in
  * (`TableWriter.dynamicPartitionOverwrite`).
  */
case class GraftDynamicOverwriteCommand(
    path: String,
    queryPlan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  extends LeafRunnableCommand {
  override def innerChildren
      : Seq[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] = Seq(queryPlan)
  override val output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val data = org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, queryPlan)
    graft.tables.TableWriter.write(spark, path, data,
      graft.tables.TableWriter.Overwrite,
      partitionColumns = t.snapshot.metadata.partitionColumns,
      operationParameters =
        Map("mode" -> "Overwrite", "partitionOverwriteMode" -> "dynamic"),
      dynamicPartitionOverwrite = true)
    Nil
  }
}

case class GraftAlterPropertiesCommand(
    path: String, set: Seq[(String, String)], unset: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val v =
      if (set.nonEmpty) t.setProperties(set.toMap)
      else t.unsetProperties(unset.toSet)
    Seq(Row(v))
  }
}

case class GraftAddColumnsCommand(path: String, columnsDdl: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(t.addColumns(StructType.fromDDL(columnsDdl))))
  }
}

/** `ALTER TABLE '<path>' ALTER COLUMN c TYPE <wider>` — explicit lossless
  * type widening ([[GraftTable.widenColumnType]], metadata-only).
  */
case class GraftAlterColumnTypeCommand(path: String, column: String, typeDdl: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val dt = org.apache.spark.sql.types.DataType.fromDDL(typeDdl)
    Seq(Row(t.widenColumnType(column, dt)))
  }
}

/** `ALTER TABLE ... ALTER COLUMN <c> SYNC IDENTITY` — re-seat the identity
  * high-water mark on the column's actual extremum
  * ([[GraftTable.syncIdentity]]; metadata-only via the stats aggregate).
  */
case class GraftSyncIdentityCommand(path: String, column: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(t.syncIdentity(Seq(column))))
  }
}

/** `ALTER TABLE ... ALTER COLUMN <c> SET NOT NULL | DROP NOT NULL` —
  * toggle the nullability invariant ([[GraftTable.setColumnNullability]];
  * SET validates existing rows via footer nullCounts, scanning only when
  * stats can't prove it).
  */
case class GraftSetNullabilityCommand(path: String, column: String, nullable: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(t.setColumnNullability(column, nullable)))
  }
}

case class GraftAddConstraintCommand(path: String, name: String, predicate: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(t.addCheckConstraint(name, predicate)))
  }
}

case class GraftDropConstraintCommand(path: String, name: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    Seq(Row(t.dropCheckConstraint(name)))
  }
}

case class GraftShowPropertiesCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("value", StringType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    t.snapshot.metadata.properties.toSeq.sortBy(_._1).map { case (k, v) => Row(k, v) }
  }
}

/** `CREATE TABLE <target> SHALLOW|DEEP CLONE <source> [VERSION AS OF n]` —
  * Delta's clone statement. SHALLOW ([[GraftTable.shallowClone]]): version
  * 0 of the target references the source's files by absolute path, no data
  * moves. DEEP ([[GraftTable.deepClone]]): byte-identical copies land in
  * the target (distributed, no recompression), stats and sidecars carried
  * over — a fully independent table. The target is a table path or a
  * graft-catalog identifier (cloned into the catalog's warehouse node,
  * immediately addressable by name); the source resolves like every
  * maintenance target.
  */
case class GraftCloneCommand(
    target: String, source: String, version: Option[Long], ifNotExists: Boolean,
    deep: Boolean = false, timestamp: Option[String] = None)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("sourceVersion", LongType, nullable = false)(),
    AttributeReference("numFiles", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftSqlCommands.resolveTarget(spark, source)
    // TIMESTAMP AS OF resolves on the SOURCE's history with the same
    // monotonized rule as the timestampAsOf reader option and RESTORE
    val tsVersion = timestamp.map { ts =>
      val tz = spark.sessionState.conf.sessionLocalTimeZone
      val millis = graft.sources.GraftDataSource.parseTimestampMillis(ts.trim, tz)
      src.log.versionAtOrBefore(millis).getOrElse(throw new IllegalArgumentException(
        s"cannot clone ${src.path}: '$ts' is before the table's first commit"))
    }
    val atVersion = version.orElse(tsVersion)
    val destPath = graft.catalog.GraftCatalog.pathForName(spark, target) match {
      case Some(p) =>
        require(graft.tables.Fs.isDirectory(graft.tables.Fs.parent(p)),
          s"namespace of $target does not exist — CREATE NAMESPACE first")
        p
      case None =>
        require(target.contains('/'),
          s"'$target' is neither a graft-catalog identifier nor a table path")
        target
    }
    if (ifNotExists && GraftTable.exists(destPath)) return Seq(Row(-1L, 0L))
    val t =
      if (deep) GraftTable.deepClone(spark, src.path, destPath, atVersion)
      else GraftTable.shallowClone(spark, src.path, destPath, atVersion)
    val ci = t.log.actionsAt(0L)
      .collectFirst { case c: graft.tables.CommitInfo => c }.get
    Seq(Row(ci.operationParameters("sourceVersion").toLong,
      ci.operationMetrics("numFiles").toLong))
  }
}

/** `COPY INTO <target> FROM '<dir>' FILEFORMAT = ...` — idempotent bulk
  * ingestion over [[TableOps.copyInto]]: each matched source file loads
  * exactly once across re-runs (memory in the table log, bounded by log
  * retention); `COPY_OPTIONS ('force'='true')` re-loads everything.
  */
case class GraftCopyIntoCommand(
    path: String, source: String, format: String, pattern: Option[String],
    formatOptions: Map[String, String], force: Boolean)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("num_inserted_rows", LongType, nullable = false)(),
    AttributeReference("num_copied_files", LongType, nullable = false)(),
    AttributeReference("num_skipped_files", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val (v, rows, copied, skipped) =
      TableOps.copyInto(t, source, format, pattern, formatOptions, force)
    Seq(Row(v, rows, copied, skipped))
  }
}

case class GraftConvertCommand(path: String, partitionDdl: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("numConvertedFiles", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val ps = partitionDdl.map(StructType.fromDDL).getOrElse(new StructType())
    val t = GraftTable.convert(spark, path, ps)
    Seq(Row(t.snapshot.numFiles))
  }
}

case class GraftDeleteCommand(path: String, where: Option[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numDeletedRows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val v = TableOps.delete(t, where)
    Seq(Row(v, GraftSqlCommands.commitMetric(t, v, "numDeletedRows")))
  }
}

case class GraftUpdateCommand(
    path: String, where: Option[String], set: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numUpdatedRows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val v = TableOps.update(t, where, set.toMap)
    Seq(Row(v, GraftSqlCommands.commitMetric(t, v, "numUpdatedRows")))
  }
}

/** Opaque holder for a RESOLVED DML condition and the relation output it
  * was resolved against. Deliberately NOT a TreeNode field shape the
  * command would surface through `expressions`: CheckAnalysis only allows
  * IN/EXISTS subqueries in the node types it knows (Filter/Join/.../its own
  * DML commands), so a custom command exposing the condition directly is
  * rejected. The condition is fully re-analyzed at execution inside the
  * Dataset filter it rebinds onto — an allowed location — so nothing is
  * validated late that Spark would have validated here.
  */
final class DmlCondBox(
    val cond: org.apache.spark.sql.catalyst.expressions.Expression,
    val tableOutput: Seq[Attribute]) extends Serializable

/** Native `DELETE FROM graft_cat.ns.t` whose RESOLVED condition carries
  * non-correlated subqueries: no text round-trip exists, so the command
  * keeps the expression (plus the relation output it was resolved against)
  * and [[TableOps.deleteExpr]] rebinds it onto each evaluation frame —
  * Spark's own planner executes the subqueries (Delta's commands keep the
  * resolved expression the same way).
  */
case class GraftDeleteExprCommand(path: String, box: DmlCondBox)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numDeletedRows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val v = TableOps.deleteExpr(t, box.cond, box.tableOutput)
    Seq(Row(v, GraftSqlCommands.commitMetric(t, v, "numDeletedRows")))
  }
}

/** Native `UPDATE graft_cat.ns.t` with a subquery-carrying condition — the
  * UPDATE twin of [[GraftDeleteExprCommand]] (assignments here are plain
  * text; assignments carrying scalar subqueries route to
  * [[GraftUpdateSubqueryCommand]] instead).
  */
case class GraftUpdateExprCommand(
    path: String, box: DmlCondBox, set: Seq[(String, String)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numUpdatedRows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val v = TableOps.updateExpr(t, box.cond, box.tableOutput, set.toMap)
    Seq(Row(v, GraftSqlCommands.commitMetric(t, v, "numUpdatedRows")))
  }
}

/** Native `UPDATE graft_cat.ns.t` whose SET assignments carry
  * NON-correlated SCALAR subqueries ([[DmlExprBox]] — evaluated once per
  * statement at run, spliced in as literals); the condition rides whichever
  * seam it needs (text, or [[DmlCondBox]] when it has subqueries of its
  * own).
  */
case class GraftUpdateSubqueryCommand(
    path: String,
    whereText: Option[String],
    whereBox: Option[DmlCondBox],
    set: Seq[(String, GraftRowLevelRewrite.SqlPart)])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numUpdatedRows", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    // each assignment: plain text stays text; a boxed fragment collapses
    // to text (non-correlated scalars evaluated once, spliced as
    // literals) UNLESS it carries per-row subqueries (correlated scalars,
    // IN/EXISTS predicates) — those stay resolved expressions and evaluate
    // plan-level over the rewrite frame
    val resolvedSet: Map[String, BoundExpr] =
      set.map { case (k, p) =>
        k -> p.fold[BoundExpr](
          txt => BoundExpr.Text(txt),
          box =>
            if (box.needsPlanEval) BoundExpr.resolved(box.expr, box.tgt)
            else BoundExpr.Text(box.toSql(spark)))
      }.toMap
    val cond: BoundExpr = whereBox match {
      case Some(box) => BoundExpr.resolved(box.cond, box.tableOutput)
      case None => BoundExpr.Text(whereText.getOrElse("true"))
    }
    val v = TableOps.updateMixed(t, cond, resolvedSet)
    Seq(Row(v, GraftSqlCommands.commitMetric(t, v, "numUpdatedRows")))
  }
}

case class GraftDescribeDetailCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("format", StringType, nullable = false)(),
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("partitionColumns", ArrayType(StringType), nullable = false)(),
    AttributeReference("properties", MapType(StringType, StringType), nullable = false)(),
    AttributeReference("numFiles", LongType, nullable = false)(),
    AttributeReference("sizeInBytes", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val s = GraftSqlCommands.resolveTarget(spark, path).snapshot
    Seq(Row("parquet+graftlog", path, s.metadata.partitionColumns,
      s.metadata.properties, s.numFiles, s.sizeInBytes))
  }
}

case class GraftDescribeHistoryCommand(path: String)
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("timestamp", TimestampType, nullable = false)(),
    AttributeReference("operation", StringType, nullable = false)(),
    AttributeReference("operationParameters",
      MapType(StringType, StringType), nullable = false)(),
    AttributeReference("operationMetrics",
      MapType(StringType, StringType), nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftSqlCommands.resolveTarget(spark, path)
    t.history().map { case (v, ci) =>
      Row(v, new java.sql.Timestamp(ci.timestamp), ci.operation,
        ci.operationParameters, ci.operationMetrics)
    }
  }
}

/** Shared target resolution for the SQL surface: a quoted target is first
  * tried as a table PATH, then as a resolvable NAME ([[GraftTable.forName]]:
  * conf registry, `graft_cat.ns.t` V2-catalog identifiers, `USING graft`
  * catalog tables) — so `OPTIMIZE 'graft_cat.ns.t'` and
  * ``MERGE INTO graft.`graft_cat.ns.t` `` work without a metastore entry.
  */
object GraftSqlCommands {
  /** One commit's operation metric (0 when absent) — shared by the DML
    * commands' result rows.
    */
  private[sql] def commitMetric(t: GraftTable, v: Long, key: String): Long =
    t.log.actionsAt(v).collectFirst { case c: graft.tables.CommitInfo =>
      c.operationMetrics.get(key).map(_.toLong) }.flatten.getOrElse(0L)

  def resolveTarget(spark: SparkSession, target: String): GraftTable =
    if (GraftTable.exists(target)) GraftTable.forPath(spark, target)
    else
      try GraftTable.forName(spark, target)
      catch {
        case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"'$target' is neither a graft table path nor a registered/catalog table name")
      }
}
