package graft.catalog

import java.nio.file.Paths
import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.tables.{Fs, GraftTable}

/** V2 `TableCatalog` plugin: unquoted multi-part identifiers
  * (`graft_cat.ns.table`) resolve in plain `spark.sql` without the
  * session-conf registry or metastore entries — the catalog maps
  * identifiers onto a warehouse directory tree
  * (`<warehouse>/<ns...>/<table>`), each leaf a normal graft table whose
  * commit log stays the single source of truth (schema, partitioning and
  * properties are all served FROM the log, never cached in the catalog).
  *
  * {{{
  *   spark.sql.catalog.graft_cat           = graft.catalog.GraftCatalog
  *   spark.sql.catalog.graft_cat.warehouse = /data/graft
  *   spark.sql.extensions                  = graft.sql.GraftSparkSessionExtension
  *
  *   CREATE TABLE graft_cat.ns.t AS SELECT ...          -- CTAS
  *   SELECT * FROM graft_cat.ns.t                       -- native scan
  *   INSERT INTO graft_cat.ns.t ...                     -- commit-log write
  *   MERGE INTO graft.`graft_cat.ns.t` USING ... ON ... -- graft MERGE
  * }}}
  *
  * Reads: [[GraftV2Table]] deliberately carries NO V2 scan implementation —
  * the session extension's resolution rule swaps every catalog read onto
  * the mature V1 path ([[graft.sources.GraftRelation]] → the
  * `GraftScanRewrite` native `HadoopFsRelation`), so catalog reads get the
  * same vectorized parquet scan, log-served file listing, stats skipping,
  * metadata-only aggregates and deletion-vector masking as path reads —
  * one read path, not two. Without the extension, reads fail loudly with
  * the config to set. Writes: the V1 write fallback
  * (`TableCapability.V1_BATCH_WRITE`) routes INSERT / CTAS / INSERT
  * OVERWRITE through the commit log's append/overwrite.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val w = options.get(GraftCatalog.WarehouseOption)
    require(w != null && w.nonEmpty,
      s"graft catalog '$name' needs a warehouse root: set " +
        s"spark.sql.catalog.$name.${GraftCatalog.WarehouseOption}=<dir>")
    warehouse = GraftCatalog.normalizeWarehouse(w)
  }

  override def name(): String = catalogName

  private def spark: SparkSession = SparkSession.active

  /** Identifier part → path segment, refusing anything that could escape
    * the warehouse tree (catalog identifiers come from arbitrary SQL).
    */
  private def segment(p: String): String = {
    require(p.nonEmpty && !p.contains("/") && !p.contains("\\") && !p.startsWith("."),
      s"illegal graft catalog identifier part '$p'")
    require(p != GraftCatalog.ExternalPointerFile,
      s"'$p' is reserved (the external-table pointer file name)")
    p
  }

  private def nsDir(ns: Array[String]): String =
    ns.foldLeft(warehouse)((d, p) => Fs.child(d, segment(p)))

  /** The identifier's PHYSICAL node in the warehouse tree — the table
    * directory itself for managed tables, or the small pointer node for
    * EXTERNAL tables (`CREATE TABLE ... LOCATION '<path>'`).
    */
  private def node(ident: Identifier): String =
    Fs.child(nsDir(ident.namespace), segment(ident.name))

  /** The table's DATA directory: the node itself, or the location its
    * external pointer records (see [[GraftCatalog.ExternalPointerFile]]).
    */
  private[graft] def tableDir(ident: Identifier): String = {
    val n = node(ident)
    GraftCatalog.externalLocation(n).getOrElse(n)
  }

  /** Identity-transform partition columns — the only partitioning graft
    * tables support (Delta's rule too).
    */
  private def identityPartCols(partitions: Array[Transform]): Seq[String] =
    partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 =>
        t.references.head.fieldNames.mkString(".")
      case t => throw new UnsupportedOperationException(
        s"graft tables support identity partitioning only, got: $t")
    }

  // ---- tables ---------------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsDir(namespace)
    if (!Fs.isDirectory(dir)) throw new NoSuchNamespaceException(namespace)
    Fs.listChildNames(dir)
      .filter { n =>
        val c = Fs.child(dir, n)
        GraftTable.exists(c) || GraftCatalog.externalLocation(c).isDefined
      }
      .map(n => Identifier.of(namespace, n))
      .toArray
  }

  override def tableExists(ident: Identifier): Boolean = {
    val n = node(ident)
    // a DANGLING pointer (external data deleted out-of-band) still counts:
    // DROP TABLE must be able to unregister it, and CREATE must refuse the
    // occupied name — otherwise the identifier wedges (drop no-ops on
    // exists=false while create trips over the pointer)
    GraftCatalog.externalLocation(n).isDefined || GraftTable.exists(n)
  }

  override def loadTable(ident: Identifier): Table = {
    val dir = tableDir(ident)
    if (!GraftTable.exists(dir.toString)) throw new NoSuchTableException(ident)
    new GraftV2Table(dir.toString, ident)
  }

  /** `SELECT ... FROM graft_cat.ns.t VERSION AS OF <n>` — the V2
    * time-travel hook; the pinned version rides [[GraftV2Table]] into the
    * read-fallback rule and lands on the same pinned-snapshot V1 relation
    * `graft.\`path\` VERSION AS OF` reads use.
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = tableDir(ident)
    if (!GraftTable.exists(dir.toString)) throw new NoSuchTableException(ident)
    val v =
      try version.toLong
      catch {
        case _: NumberFormatException => throw new IllegalArgumentException(
          s"graft VERSION AS OF takes a numeric version, got '$version'")
      }
    new GraftV2Table(dir.toString, ident, Some(v))
  }

  /** `TIMESTAMP AS OF` — `timestampMicros` per the TableCatalog contract;
    * resolved through the same monotonized-commit-timestamp rule as every
    * other timestamp resolution ([[graft.tables.GraftLog.versionAtOrBefore]]).
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = tableDir(ident)
    if (!GraftTable.exists(dir.toString)) throw new NoSuchTableException(ident)
    val log = new graft.tables.GraftLog(dir.toString)
    val v = log.versionAtOrBefore(timestampMicros / 1000L).getOrElse(
      throw new IllegalArgumentException(
        s"timestamp predates the first commit of $ident"))
    new GraftV2Table(dir.toString, ident, Some(v))
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val n = node(ident)
    if (GraftTable.exists(n) || GraftCatalog.externalLocation(n).isDefined)
      throw new TableAlreadyExistsException(ident)
    val partCols = identityPartCols(partitions)
    val props = properties.asScala.toMap -- GraftCatalog.ReservedProperties
    val declaredLoc = Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(_.trim).filter(_.nonEmpty)
    declaredLoc match {
      case None =>
        Fs.mkdirs(Fs.parent(n))
        GraftTable.createEmpty(spark, n, schema, partCols, props)
        new GraftV2Table(n, ident)
      case Some(raw) =>
        // EXTERNAL table: the data lives at LOCATION; the warehouse node
        // holds only a pointer. Previously the location was silently
        // IGNORED — the catalog created an empty shadow table under the
        // warehouse and every later read/DML hit the decoy.
        // (CTAS with a LOCATION holding existing data registers it and the
        // query output APPENDS — the catalog cannot see it is a CTAS;
        // declare no columns/properties if that is not what you meant.)
        val loc = GraftCatalog.normalizeWarehouse(raw)
        if (GraftTable.exists(loc)) {
          // registering EXISTING data: declared schema/partitioning/
          // properties must MATCH the log's or be omitted (silently
          // accepting contradictory DDL would lie about the table's shape)
          // the log head, not a full snapshot fold — registering a
          // 10^6-file table must not parse its whole log on the driver
          val meta = new graft.tables.GraftLog(loc).head().metadata
          val logSchema = org.apache.spark.sql.types.DataType
            .fromJson(meta.schemaJson).asInstanceOf[StructType]
          def matches: Boolean =
            schema.fields.length == logSchema.fields.length &&
              schema.fields.forall(f => logSchema.fields.exists(lf =>
                lf.name.equalsIgnoreCase(f.name) &&
                  graft.tables.ColumnMapping.cleanLogicalDataType(lf.dataType) ==
                    graft.tables.ColumnMapping.cleanLogicalDataType(f.dataType)))
          require(schema.isEmpty || matches,
            s"CREATE TABLE ${ident} LOCATION '$raw': declared schema " +
              s"${schema.simpleString} does not match the existing graft " +
              s"table's ${logSchema.simpleString} — omit the column list " +
              "to register existing data")
          require(partCols.isEmpty ||
              partCols.map(_.toLowerCase) == meta.partitionColumns.map(_.toLowerCase),
            s"CREATE TABLE ${ident} LOCATION '$raw': declared PARTITIONED BY " +
              s"(${partCols.mkString(", ")}) does not match the existing " +
              s"table's (${meta.partitionColumns.mkString(", ")})")
          require(props.isEmpty,
            s"CREATE TABLE ${ident} LOCATION '$raw' registers EXISTING data: " +
              "TBLPROPERTIES would be silently ignored — set them with " +
              "ALTER TABLE after registering")
        } else {
          require(schema.nonEmpty,
            s"CREATE TABLE ${ident} LOCATION '$raw': no graft table exists " +
              "there — declare columns to create one")
        }
        val registeringExisting = GraftTable.exists(loc)
        // ONE-WINNER publication through the log store's conditional put,
        // claimed BEFORE any data is created at LOCATION — the losing side
        // of a concurrent CREATE must not leave an orphan graft table at
        // the user's directory (a crashed winner leaves only a dangling
        // pointer, which DROP TABLE can always unregister)
        Fs.mkdirs(n)
        val pointer = Fs.child(n, GraftCatalog.ExternalPointerFile)
        try graft.tables.LogStore.forPath(n).putIfAbsent(
          pointer, (loc + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            throw new TableAlreadyExistsException(ident)
        }
        if (!registeringExisting) {
          try {
            Fs.mkdirs(loc)
            GraftTable.createEmpty(spark, loc, schema, partCols, props); ()
          } catch {
            case e: Throwable =>
              // roll the claim back so a failed data creation cannot wedge
              // the identifier behind a pointer to nothing
              try { graft.tables.LogStore.forPath(n).delete(pointer); () }
              catch { case _: Throwable => () }
              e match {
                case _: IllegalArgumentException if GraftTable.exists(loc) =>
                  // a concurrent CREATE under a DIFFERENT identifier won the
                  // same LOCATION between our existence check and createEmpty
                  throw new TableAlreadyExistsException(ident)
                case _ => throw e
              }
          }
        }
        new GraftV2Table(loc, ident)
    }
  }

  // ---- atomic CREATE OR REPLACE (StagingTableCatalog) ------------------

  override def stageCreate(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    new GraftStagedTable(ident, schema, partitions, properties, StageIntent.Create)
  }

  override def stageReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable = {
    if (!tableExists(ident)) throw new NoSuchTableException(ident)
    new GraftStagedTable(ident, schema, partitions, properties, StageIntent.Replace)
  }

  override def stageCreateOrReplace(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    new GraftStagedTable(ident, schema, partitions, properties, StageIntent.CreateOrReplace)

  /** Staged handle for `CREATE [OR REPLACE] / REPLACE TABLE [AS SELECT]`
    * (Spark routes these through [[StagingTableCatalog]] when the catalog
    * offers it, so a replace is atomic rather than drop+create — drop+
    * create would also destroy the commit history a graft replace keeps).
    *
    * graft's unit of atomicity is the commit log, so the staged protocol
    * maps straight onto it:
    *  - REPLACE of an existing table: the V1-fallback write performs ONE
    *    [[graft.operators.TableOps.replaceTable]] commit — remove-all +
    *    new schema/partitioning/properties + new files (CDF delete/insert
    *    rows are synthesized at READ time from the remove/add actions;
    *    none are written), OCC-fenced, history preserved. Readers see
    *    the old table until that single commit lands;
    *    `commitStagedChanges` is then a no-op.
    *  - CREATE (CTAS): `createTable` + append — the same two-commit shape
    *    as the non-atomic path (external LOCATION handling included), plus
    *    `abortStagedChanges` dropping the half-created table when the
    *    query fails mid-write.
    *  - data-less `REPLACE TABLE` DDL: no write runs, so
    *    `commitStagedChanges` itself performs the empty replace (declared
    *    schema, zero rows).
    */
  /** Stage-time intent, carried into execution: only `CreateOrReplace` may
    * pick its branch from execution-time existence. A plain staged CTAS
    * whose target appears concurrently must FAIL (TableAlreadyExists), not
    * silently replace the concurrent table; a staged REPLACE whose target
    * vanishes concurrently must fail NoSuchTable, not silently create.
    */
  private object StageIntent extends Enumeration {
    val Create, Replace, CreateOrReplace = Value
  }

  private class GraftStagedTable(
      ident: Identifier,
      declaredSchema: StructType,
      partitions: Array[Transform],
      tableProps: util.Map[String, String],
      intent: StageIntent.Value)
      extends StagedTable with SupportsWrite {

    private val partCols = identityPartCols(partitions)
    private var wrote = false
    private var created = false

    override def name(): String = ident.toString
    override def schema(): StructType = declaredSchema
    override def partitioning(): Array[Transform] = partitions
    override def properties(): util.Map[String, String] = tableProps
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

    /** True when execution must REPLACE. Only `CREATE OR REPLACE` decides
      * from the state it actually executes against; `CREATE` and `REPLACE`
      * re-check that the stage-time precondition still holds and fail
      * loudly when a concurrent writer invalidated it (never silently
      * flipping a CTAS into a replace of someone else's table, or a
      * REPLACE into a create).
      */
    private def replacing: Boolean = {
      val exists = tableExists(ident)
      intent match {
        case StageIntent.Create =>
          if (exists) throw new TableAlreadyExistsException(ident)
          false
        case StageIntent.Replace =>
          if (!exists) throw new NoSuchTableException(ident)
          true
        case StageIntent.CreateOrReplace => exists
      }
    }

    private def doReplace(data: Option[DataFrame]): Unit = {
      // LOCATION on REPLACE: allowed only when it re-states the table's
      // current location — silently re-pointing would strand the old data
      Option(tableProps.get(TableCatalog.PROP_LOCATION)).map(_.trim).filter(_.nonEmpty)
        .foreach { raw =>
          val declared = GraftCatalog.normalizeWarehouse(raw)
          val current = tableDir(ident)
          require(declared == current,
            s"REPLACE TABLE $ident LOCATION '$raw': the table's data lives " +
              s"at '$current' — REPLACE cannot re-point a table; DROP it " +
              "and CREATE at the new location instead")
        }
      graft.operators.TableOps.replaceTable(
        GraftTable.forPath(spark, tableDir(ident)),
        data,
        schema = Some(declaredSchema),
        partitionColumns = partCols,
        properties = tableProps.asScala.toMap -- GraftCatalog.ReservedProperties,
        operation =
          if (data.isEmpty) "REPLACE TABLE"
          else if (intent == StageIntent.CreateOrReplace) "CREATE OR REPLACE TABLE AS SELECT"
          else "REPLACE TABLE AS SELECT")
      ()
    }

    private def doCreate(data: Option[DataFrame]): Unit = {
      createTable(ident, declaredSchema, partitions, tableProps)
      created = true
      data.foreach { d =>
        GraftTable.forPath(spark, tableDir(ident))
          .append(d, operation = "CREATE TABLE AS SELECT")
        ()
      }
    }

    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
      new WriteBuilder with SupportsTruncate {
        override def truncate(): WriteBuilder = this
        override def build(): Write = new V1Write {
          override def toInsertableRelation: InsertableRelation =
            new InsertableRelation {
              override def insert(data: DataFrame, overwrite: Boolean): Unit = {
                wrote = true
                if (replacing) doReplace(Some(data)) else doCreate(Some(data))
              }
            }
        }
      }

    override def commitStagedChanges(): Unit =
      if (!wrote) {
        if (replacing) doReplace(None) else doCreate(None)
      }

    override def abortStagedChanges(): Unit =
      if (created) {
        // roll back the CTAS-create (a failed REPLACE needs no rollback —
        // its single commit never landed)
        try { dropTable(ident); () } catch { case _: Throwable => () }
      }
  }

  /** Property changes and column DDL commit to the log
    * ([[GraftTable.setProperties]] / `unsetProperties` /
    * [[GraftTable.addColumns]] / `renameColumn` / `dropColumns` — the same
    * METADATA-ONLY commits graft's own ALTER TABLE SQL makes: renames ride
    * column mapping with the physical name pinned, drops retire physical
    * names, widens ride the reader's per-leaf upcast, not one data byte
    * moves), so `ALTER TABLE graft_cat.ns.t ADD COLUMNS / RENAME COLUMN /
    * DROP COLUMN / ALTER COLUMN TYPE` work natively — top-level and
    * NESTED fields alike, descending structs by field name and
    * arrays/maps by Spark's own `element`/`key`/`value` spellings (the
    * container POSITIONS themselves can widen but have no named identity,
    * so renaming/dropping them refuses loudly) — and Spark's MERGE
    * schema-evolution resolution can widen catalog targets.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val t = GraftTable.forPath(spark, tableDir(ident).toString)
    val sets = changes.collect {
      case s: TableChange.SetProperty => s.property -> s.value
    }.toMap
    val unsets = changes.collect {
      case r: TableChange.RemoveProperty => r.property
    }.toSet
    val adds = changes.collect { case a: TableChange.AddColumn => a }
    val renames = changes.collect { case r: TableChange.RenameColumn => r }
    val drops = changes.collect { case d: TableChange.DeleteColumn => d }
    val retypes = changes.collect { case u: TableChange.UpdateColumnType => u }
    val other = changes.filterNot(c =>
      c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty] ||
        c.isInstanceOf[TableChange.AddColumn] ||
        c.isInstanceOf[TableChange.RenameColumn] ||
        c.isInstanceOf[TableChange.DeleteColumn] ||
        c.isInstanceOf[TableChange.UpdateColumnType])
    if (other.nonEmpty)
      throw new UnsupportedOperationException(
        "graft catalog alterTable handles SET/UNSET TBLPROPERTIES, ADD COLUMNS, " +
          "RENAME COLUMN, DROP COLUMN and ALTER COLUMN TYPE (lossless widens); " +
          "for other column DDL use graft's ALTER TABLE SQL on the table path " +
          s"(got: ${other.mkString(", ")})")
    retypes.foreach { u =>
      // dotted fieldNames = nested struct field (same per-leaf reader upcast)
      t.widenColumnType(u.fieldNames.mkString("."), u.newDataType); ()
    }
    renames.foreach { r =>
      // dotted fieldNames = nested struct field — renameColumn takes the
      // dotted logical path and pins the nested physical name
      t.renameColumn(r.fieldNames.mkString("."), r.newName); ()
    }
    if (drops.nonEmpty) {
      val (present, absent) = drops.partition(d =>
        graft.tables.ColumnMapping.fieldChain(
          t.snapshot.schema, d.fieldNames.toSeq).isDefined)
      absent.foreach { d =>
        require(d.ifExists,
          s"column ${d.fieldNames.mkString(".")} does not exist in ${ident.toString}")
      }
      if (present.nonEmpty) { t.dropColumns(present.map(_.fieldNames.mkString("."))); () }
    }
    if (adds.nonEmpty) {
      val (nested, topLevel) = adds.partition(_.fieldNames.length > 1)
      val fields = topLevel.map { a =>
        require(a.isNullable,
          s"new column ${a.fieldNames.head} must be nullable — existing rows read it as NULL")
        require(a.position == null,
          "graft ADD COLUMNS appends at the end; FIRST/AFTER positions are not supported")
        val meta =
          if (a.comment != null)
            new org.apache.spark.sql.types.MetadataBuilder()
              .putString("comment", a.comment).build()
          else org.apache.spark.sql.types.Metadata.empty
        org.apache.spark.sql.types.StructField(
          a.fieldNames.head, a.dataType, nullable = true, meta)
      }
      if (fields.nonEmpty) { t.addColumns(StructType(fields.toArray)); () }
      nested.foreach { a =>
        require(a.isNullable,
          s"new column ${a.fieldNames.mkString(".")} must be nullable — existing rows read it as NULL")
        require(a.position == null,
          "graft ADD COLUMNS appends at the end; FIRST/AFTER positions are not supported")
        t.addNestedColumn(a.fieldNames.init.toSeq,
          org.apache.spark.sql.types.StructField(
            a.fieldNames.last, a.dataType, nullable = true)); ()
      }
    }
    if (sets.nonEmpty) { t.setProperties(sets); () }
    if (unsets.nonEmpty) { t.unsetProperties(unsets); () }
    loadTable(ident)
  }

  /** DROP/RENAME are ADMIN operations: directory-level moves/deletes that
    * nothing fences against a writer mid-commit (POSIX rename is atomic
    * for readers, but a committer can land its `putIfAbsent` in the old
    * inode's log after the move, losing the commit). [[fenceInFlight]]
    * makes the common crash window LOUD: any claim marker or staged temp
    * object in the log younger than [[graft.tables.GraftLog.StaleClaimMillis]]
    * refuses the operation. The residual check-to-move window remains —
    * quiesce writers before admin ops; this fence turns "lucky" into
    * "refused" for every in-flight commit it can see.
    */
  private def fenceInFlight(dir: String, what: String): Unit = {
    val logDir = Fs.child(dir, graft.tables.GraftLog.LogDirName)
    if (!Fs.isDirectory(logDir)) return
    val now = System.currentTimeMillis()
    val inFlight =
      Fs.listChildNames(logDir).filter { n =>
        (n.endsWith(".claim") || n.endsWith(".tmp")) && {
          val age = try now - Fs.lastModifiedMillis(Fs.child(logDir, n))
          catch { case _: java.io.IOException => Long.MaxValue } // vanished: done
          age < graft.tables.GraftLog.StaleClaimMillis
        }
      }.toList
    if (inFlight.nonEmpty)
      throw new IllegalStateException(
        s"cannot $what $dir: commit(s) in flight (${inFlight.mkString(", ")} " +
          s"younger than ${graft.tables.GraftLog.StaleClaimMillis} ms); quiesce " +
          "writers and retry")
  }

  override def dropTable(ident: Identifier): Boolean = {
    val n = node(ident)
    GraftCatalog.externalLocation(n) match {
      case Some(loc) =>
        // EXTERNAL: drop unregisters the pointer; the data at LOCATION is
        // not owned by the catalog and stays (Spark's external-table rule)
        fenceInFlight(loc, "DROP TABLE")
        Fs.deleteRecursively(n); true
      case None =>
        if (!GraftTable.exists(n)) false
        else {
          fenceInFlight(n, "DROP TABLE")
          Fs.deleteRecursively(n); true
        }
    }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val fromNode = node(oldIdent)
    val toNode = node(newIdent)
    if (!GraftTable.exists(tableDir(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (Fs.exists(toNode)) throw new TableAlreadyExistsException(newIdent)
    fenceInFlight(tableDir(oldIdent), "RENAME TABLE")
    Fs.mkdirs(Fs.parent(toNode))
    // managed: the node IS the data dir; external: only the pointer moves
    Fs.moveNoReplace(fromNode, toNode)
    ()
  }

  // ---- namespaces (directories of the warehouse tree) -----------------

  private def isNamespaceDir(p: String): Boolean =
    Fs.isDirectory(p) && !GraftTable.exists(p) &&
      GraftCatalog.externalLocation(p).isEmpty

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = nsDir(namespace)
    if (namespace.nonEmpty && !isNamespaceDir(dir))
      throw new NoSuchNamespaceException(namespace)
    if (!Fs.isDirectory(dir)) return Array.empty
    Fs.listChildNames(dir)
      .filter(n => isNamespaceDir(Fs.child(dir, n)))
      .map(n => namespace :+ n)
      .toArray
  }

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.isEmpty || isNamespaceDir(nsDir(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val dir = nsDir(namespace)
    if (isNamespaceDir(dir)) throw new NamespaceAlreadyExistsException(namespace)
    Fs.mkdirs(dir)
    ()
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "graft catalog namespaces are plain directories and carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = nsDir(namespace)
    if (!isNamespaceDir(dir)) false
    else {
      val empty = Fs.listChildNames(dir).isEmpty
      if (!empty && !cascade)
        throw new IllegalStateException(
          s"namespace ${namespace.mkString(".")} is not empty (use CASCADE)")
      Fs.deleteRecursively(dir)
      true
    }
  }
}

object GraftCatalog {
  val WarehouseOption = "warehouse"

  /** Name of the pointer file an EXTERNAL table's warehouse node carries:
    * one line, the table's data location (`CREATE TABLE ... LOCATION`).
    */
  val ExternalPointerFile = "_graft_external"

  /** The external location a warehouse node points at, if any. ONE IO
    * call: the read itself probes (an absent pointer, or a directory
    * squatting on the name, reads as None) — this runs at every
    * identifier resolution, so the common miss must not pay exists+read.
    */
  private[graft] def externalLocation(node: String): Option[String] =
    try Fs.readLines(Fs.child(node, ExternalPointerFile))
      .headOption.map(_.trim).filter(_.nonEmpty)
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => None }

  /** Canonical warehouse root: `file:` URIs decode to plain paths first
    * (Spark's own warehouse defaults use the URI spelling), local roots
    * absolutize (stable keys across working-dir changes), remote URIs
    * normalize per [[Fs]].
    */
  def normalizeWarehouse(w: String): String = {
    val n = Fs.normalize(w)
    if (Fs.isRemote(n)) n
    else Paths.get(n).toAbsolutePath.normalize.toString
  }

  /** Catalog-plumbing keys Spark injects into CREATE TABLE properties that
    * must not leak into the table's own log properties.
    */
  val ReservedProperties: Set[String] =
    Set("provider", "location", "owner", "comment", "external",
      TableCatalog.PROP_PROVIDER, TableCatalog.PROP_LOCATION,
      TableCatalog.PROP_OWNER, TableCatalog.PROP_COMMENT,
      TableCatalog.PROP_EXTERNAL)

  /** Warehouse path of a multi-part identifier whose head names a
    * registered graft catalog — resolved from the session conf alone (the
    * catalog is stateless), so [[GraftTable.forName]] and the SQL surface
    * can accept `graft_cat.ns.t` without touching Spark internals. None
    * when the head is not a graft catalog.
    */
  def pathForName(spark: SparkSession, name: String): Option[String] = {
    val parts = name.split('.')
    // the same warehouse-escape guard tableDir enforces: any part that
    // could leave the tree ('/', '\', leading '.', empty — including an
    // absolute path that Path.resolve would REPLACE the root with) makes
    // this not a catalog identifier at all
    def legal(p: String): Boolean =
      p.nonEmpty && !p.contains("/") && !p.contains("\\") && !p.startsWith(".")
    if (parts.length < 2 || !parts.forall(legal)) return None
    val head = parts.head
    spark.conf.getOption(s"spark.sql.catalog.$head")
      .filter(_ == classOf[GraftCatalog].getName)
      .flatMap(_ => spark.conf.getOption(s"spark.sql.catalog.$head.$WarehouseOption"))
      .map(w => parts.tail.foldLeft(normalizeWarehouse(w))(Fs.child))
      .map(p => externalLocation(p).getOrElse(p))
  }
}

/** The V2 table handle [[GraftCatalog.loadTable]] returns. Schema,
  * partitioning and properties are read from the commit log at load time;
  * reads are swapped onto the V1 native path by the session extension's
  * resolution rule (see the catalog scaladoc), and writes take the V1
  * fallback through the log.
  */
object GraftV2Table {
  import org.apache.spark.sql.sources._

  /** `sources.Filter` → ANSI SQL condition text for the filter-pushdown
    * delete — rendered directly (identifier backquoting + Catalyst
    * `Literal.sql` for values; string matches via the `startswith`/
    * `endswith`/`contains` functions, immune to LIKE-pattern injection).
    * None = not expressible; `canDeleteWhere` then refuses, so Spark
    * reports the condition loudly instead of this table deleting a
    * superset.
    */
  private[graft] def filterToSql(f: Filter): Option[String] = {
    // V1 Filter attributes use dots for NESTED fields (Spark's own
    // translation convention): quote each path segment, not the whole
    // dotted string — `s`.`x`, never a nonexistent top-level `s.x`
    def q(a: String): String =
      a.split('.').map(p => "`" + p.replace("`", "``") + "`").mkString(".")
    def l(v: Any): String =
      org.apache.spark.sql.catalyst.expressions.Literal(v).sql
    f match {
      case EqualTo(a, v)            => Some(s"${q(a)} = ${l(v)}")
      case EqualNullSafe(a, v)      => Some(s"${q(a)} <=> ${l(v)}")
      case GreaterThan(a, v)        => Some(s"${q(a)} > ${l(v)}")
      case GreaterThanOrEqual(a, v) => Some(s"${q(a)} >= ${l(v)}")
      case LessThan(a, v)           => Some(s"${q(a)} < ${l(v)}")
      case LessThanOrEqual(a, v)    => Some(s"${q(a)} <= ${l(v)}")
      case In(a, vs) =>
        if (vs.isEmpty) Some("FALSE")
        else Some(s"${q(a)} IN (${vs.map(l).mkString(", ")})")
      case IsNull(a)                => Some(s"${q(a)} IS NULL")
      case IsNotNull(a)             => Some(s"${q(a)} IS NOT NULL")
      case StringStartsWith(a, v)   => Some(s"startswith(${q(a)}, ${l(v)})")
      case StringEndsWith(a, v)     => Some(s"endswith(${q(a)}, ${l(v)})")
      case StringContains(a, v)     => Some(s"contains(${q(a)}, ${l(v)})")
      case And(left, right) =>
        for (lc <- filterToSql(left); rc <- filterToSql(right))
          yield s"($lc) AND ($rc)"
      case Or(left, right) =>
        for (lc <- filterToSql(left); rc <- filterToSql(right))
          yield s"($lc) OR ($rc)"
      case Not(c)        => filterToSql(c).map(c0 => s"NOT ($c0)")
      case _: AlwaysTrue  => Some("TRUE") // unconditional DELETE (truncate shape)
      case _: AlwaysFalse => Some("FALSE")
      case _              => None
    }
  }
}

class GraftV2Table(val path: String, ident: Identifier,
    val versionAsOf: Option[Long] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  private def spark: SparkSession = SparkSession.active

  /** The Table contract needs only METADATA (schema / partitioning /
    * properties) — served by the log head (O(head lines), no file
    * accumulation), NOT a full snapshot: loadTable runs at every
    * statement's analysis, and a 10⁶-file table must not pay an
    * O(live-files) driver fold just to resolve a name. The actual scan's
    * snapshot happens once, in the relation the resolution rule builds.
    */
  private val meta: graft.tables.Metadata =
    new graft.tables.GraftLog(path).head(versionAsOf.getOrElse(-1L)).metadata

  override def name(): String =
    versionAsOf.fold(ident.toString)(v => s"$ident@v$v")

  override def schema(): StructType =
    org.apache.spark.sql.types.DataType.fromJson(meta.schemaJson)
      .asInstanceOf[StructType]

  override def partitioning(): Array[Transform] =
    meta.partitionColumns.map(c => Expressions.identity(c)).toArray

  override def properties(): util.Map[String, String] =
    meta.properties.asJava

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE)

  /** A scan HANDLE must construct (the DELETE planner builds one to carry
    * the condition into [[deleteWhere]], and it never executes), but an
    * actual batch READ through it means the session extension is missing —
    * fail loudly at `toBatch` with the config to set. With the extension,
    * read relations are rewritten onto the native V1 path at analysis and
    * never reach this builder.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new org.apache.spark.sql.connector.read.Scan {
          override def readSchema(): StructType = GraftV2Table.this.schema()
          override def description(): String = s"graft:$path"
          override def toBatch: org.apache.spark.sql.connector.read.Batch =
            throw new IllegalStateException(
              s"reading graft catalog table ${GraftV2Table.this.name()} requires the " +
                "graft session extension — set " +
                "spark.sql.extensions=graft.sql.GraftSparkSessionExtension (it " +
                "rewrites catalog reads onto the native vectorized scan path)")
        }
    }

  /** `DELETE FROM graft_cat.ns.t WHERE ...` — the filter-pushdown delete
    * hook. Translated filters render to one SQL condition and run through
    * [[graft.operators.TableOps.delete]]: file-level drops where stats
    * prove it, deletion vectors / rewrites where they don't — exactly the
    * path-API delete. `canDeleteWhere` admits only fully-translatable
    * conditions, so Spark reports untranslatable ones loudly instead of
    * this table deleting a superset.
    */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    versionAsOf.isEmpty && filters.forall(f => GraftV2Table.filterToSql(f).isDefined)

  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(versionAsOf.isEmpty,
      s"cannot DELETE through a time-travel (VERSION AS OF) read of $name")
    val conds = filters.map(f => GraftV2Table.filterToSql(f).getOrElse(
      throw new UnsupportedOperationException(
        s"DELETE condition not translatable for graft: $f")))
    val cond = if (conds.isEmpty) None else Some(conds.map(c => s"($c)").mkString(" AND "))
    graft.operators.TableOps.delete(GraftTable.forPath(spark, path), cond)
    ()
  }

  /** Batch writes take the V1 fallback (INSERT/CTAS through the commit
    * log's append/overwrite; a predicate-scoped
    * `INSERT OVERWRITE ... PARTITION (k=v)` routes its translated filters
    * onto [[graft.operators.TableOps.overwriteWhere]] — the replaceWhere
    * engine); `writeStream.toTable` takes the V2
    * [[graft.streaming.GraftStreamingWrite]] — per-task parquet writers,
    * epoch-fenced exactly-once commit. Dynamic partition overwrite never
    * reaches this builder: `OverwritePartitionsDynamic` has no V1-write
    * fallback exec, so [[graft.sql.GraftRowLevelRewrite]] rewrites it into
    * a command first.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(versionAsOf.isEmpty,
      s"cannot write through a time-travel (VERSION AS OF) read of $name")
    new WriteBuilder with org.apache.spark.sql.connector.write.SupportsOverwrite {
      import org.apache.spark.sql.sources.{AlwaysTrue, Filter}
      private var overwrite = false
      private var where: Seq[Filter] = Nil
      override def truncate(): WriteBuilder = { overwrite = true; where = Nil; this }
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        if (filters.forall(_.isInstanceOf[AlwaysTrue])) truncate()
        else { overwrite = true; where = filters.toSeq; this }
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwriteParam: Boolean): Unit = {
              val t = GraftTable.forPath(SparkSession.active, path)
              if (where.nonEmpty) {
                val conds = where.map(f => GraftV2Table.filterToSql(f).getOrElse(
                  throw new UnsupportedOperationException(
                    s"INSERT OVERWRITE condition not translatable for graft: $f")))
                graft.operators.TableOps.overwriteWhere(t, data,
                  conds.map(c => s"($c)").mkString(" AND "))
              } else if (overwrite || overwriteParam) t.overwrite(data)
              else t.append(data)
              ()
            }
          }
        override def toStreaming
            : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
          new graft.streaming.GraftStreamingWrite(path, info, overwrite)
      }
    }
  }
}
