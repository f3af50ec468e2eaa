package graft.sql

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{DataType, StructType}

/** SQL grammar for graft maintenance statements, Delta's vocabulary:
  *
  * {{{
  *   OPTIMIZE '<path>' [WHERE <predicate>] [ZORDER BY (c1, c2, ...)]
  *   VACUUM '<path>' [LITE | FULL] [RETAIN <n> HOURS] [DRY RUN]
  *   REORG TABLE '<path>' [WHERE <predicate>] APPLY (PURGE)
  *   RESTORE [TABLE] '<path>' [TO] VERSION AS OF <n>
  *   RESTORE [TABLE] '<path>' [TO] TIMESTAMP AS OF '<ts>'
  *   FSCK REPAIR TABLE '<path>' [DRY RUN]
  *   ANALYZE [TABLE] '<path>' COMPUTE STATISTICS
  *   DESCRIBE HISTORY '<path>'
  *   DESCRIBE DETAIL '<path>'
  *   DELETE FROM '<path>' [WHERE <predicate>]
  *   UPDATE '<path>' SET c1 = <expr> [, ...] [WHERE <predicate>]
  *   MERGE INTO '<path>' [AS t] USING <table | (query) | '<path>'> [AS s]
  *     ON <cond> WHEN [NOT] MATCHED [AND c] THEN
  *     UPDATE SET *|assignments / DELETE / INSERT *|(cols) VALUES (exprs)
  *   CONVERT TO GRAFT '<path>' [PARTITIONED BY (c1 type, ...)]
  *   ALTER TABLE '<path>' SET TBLPROPERTIES (k = v, ...)
  *   ALTER TABLE '<path>' UNSET TBLPROPERTIES (k, ...)
  *   ALTER TABLE '<path>' ADD COLUMNS (c1 type, ...)
  *   ALTER TABLE '<path>' ADD CONSTRAINT name CHECK (<predicate>)
  *   ALTER TABLE '<path>' DROP CONSTRAINT name
  *   SHOW TBLPROPERTIES '<path>'
  *   ALTER TABLE '<path>' ALTER COLUMN c SYNC IDENTITY
  *   ALTER TABLE '<path>' ALTER COLUMN c SET NOT NULL | DROP NOT NULL
  *   CREATE TABLE <target> [IF NOT EXISTS] SHALLOW|DEEP CLONE <source>
  *     [VERSION AS OF <n> | TIMESTAMP AS OF '<ts>']
  *   COPY INTO <target> FROM '<dir>' FILEFORMAT = PARQUET|CSV|JSON
  *     [PATTERN = '<glob>'] [FORMAT_OPTIONS (k = v, ...)]
  *     [COPY_OPTIONS ('force' = 'true')]
  * }}}
  *
  * Table references accept a single-quoted, double-quoted or backticked
  * path, optionally wrapped as `` graft.`<path>` `` (the format-qualified
  * form Delta uses). Anything that does not match a maintenance statement
  * delegates to Spark's parser untouched, so the extension is a pure
  * superset of Spark SQL. Register with
  * `spark.sql.extensions=graft.sql.GraftSparkSessionExtension`, or run a
  * single statement without registration via [[GraftSql.sql]].
  */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    GraftSqlParser.parseMaintenance(sqlText).getOrElse(delegate.parsePlan(sqlText))

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType = delegate.parseRoutineParam(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
}

object GraftSqlParser {
  // `'path'` | `"path"` | `` `path` `` | graft.`path` (any of the quote
  // forms), or an UNQUOTED multi-part identifier (`graft_cat.ns.t` —
  // Delta's `OPTIMIZE events` ergonomics; at least two parts, so a bare
  // single word is never claimed). Group `base - 1` captures the optional
  // `graft.` qualifier so DML can distinguish a graft path from a quoted
  // catalog identifier. Maintenance statements (OPTIMIZE/VACUUM/...) are
  // not Spark grammar, so claiming a bare identifier shadows nothing —
  // a non-graft target fails loudly in resolveTarget; DML keeps the
  // claimableDml gate (bare identifiers there stay Spark's, served by the
  // native V2 row-level path).
  private val P = """(graft\s*\.\s*)?(?:'([^']+)'|"([^"]+)"|`([^`]+)`|([A-Za-z_][A-Za-z0-9_]*(?:\.[A-Za-z_][A-Za-z0-9_]*)+))"""
  private def pathOf(m: java.util.regex.Matcher, base: Int): String =
    Seq(base, base + 1, base + 2, base + 3).iterator.map(m.group).find(_ != null).get

  /** DML statements exist in Spark's own grammar, so a quoted target is
    * only OURS when it is `graft.`-qualified or visibly a path (contains a
    * separator) — `` DELETE FROM `events` `` on a catalog table must reach
    * Spark's parser and the table's connector, not die in forPath.
    */
  private def claimableDml(m: java.util.regex.Matcher): Boolean =
    m.group(1) != null || pathOf(m, 2).contains('/')

  /** Maintenance statements (OPTIMIZE/VACUUM/RESTORE/DESC HISTORY/...) are
    * not Spark grammar, so bare multi-part identifiers are claimable — but
    * with a COEXISTING extension registered behind graft (e.g. Delta, whose
    * grammar has the same statements), an unquoted identifier that does not
    * resolve to a graft table must fall through to the delegate parser
    * instead of dying in resolveTarget. Quoted and `graft.`-qualified
    * targets stay claimed unconditionally: they are explicitly addressed to
    * graft, and a bad path should fail loudly, not turn into a delegate
    * parse error.
    */
  private def claimableMaintenance(m: java.util.regex.Matcher, base: Int = 2): Boolean =
    m.group(base + 3) == null || plausiblyGraft(pathOf(m, base))

  /** "Plausibly ours" for a bare identifier: qualified by a registered
    * [[graft.catalog.GraftCatalog]] (claim even if the table is missing —
    * it is addressed to OUR catalog and should fail loudly there),
    * conf-registered (`spark.graft.table.<name>`), or resolvable as a graft
    * table. Everything else declines — the delegate parser gets it.
    */
  private def plausiblyGraft(target: String): Boolean =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession).forall { s =>
      val first = target.substring(0, target.indexOf('.'))
      // CHEAPEST first — this runs at PARSE time for every bare-identifier
      // maintenance statement. Catalog qualification is decided from the
      // registration conf (a string compare + non-initializing classload),
      // NOT by instantiating the catalog plugin; the conf registry is one
      // conf read; only then does table-existence resolution (filesystem
      // I/O) run, and only for identifiers the first two checks declined.
      def graftCatalogQualified: Boolean =
        s.conf.getOption(s"spark.sql.catalog.$first").exists { cls =>
          cls == classOf[graft.catalog.GraftCatalog].getName ||
            (try classOf[graft.catalog.GraftCatalog].isAssignableFrom(
              Class.forName(cls, false, Thread.currentThread().getContextClassLoader))
            catch { case scala.util.control.NonFatal(_) => false })
        }
      def confRegistered: Boolean =
        s.conf.getOption(s"spark.graft.table.$target").isDefined
      def resolves: Boolean =
        try { GraftSqlCommands.resolveTarget(s, target); true }
        catch { case scala.util.control.NonFatal(_) => false }
      graftCatalogQualified || confRegistered || resolves
    }

  private def rx(pattern: String) = java.util.regex.Pattern.compile(
    pattern, java.util.regex.Pattern.CASE_INSENSITIVE | java.util.regex.Pattern.DOTALL)

  private val optimize = rx(
    s"""^\\s*OPTIMIZE\\s+$P(\\s+.+?)?\\s*;?\\s*$$""")
  private val vacuum = rx(
    s"""^\\s*VACUUM\\s+$P(?:\\s+(LITE|FULL))?(?:\\s+RETAIN\\s+(\\d+(?:\\.\\d+)?)\\s+HOURS)?(\\s+DRY\\s+RUN)?\\s*;?\\s*$$""")
  private val restoreV = rx(
    s"""^\\s*RESTORE\\s+(?:TABLE\\s+)?$P\\s+(?:TO\\s+)?VERSION\\s+AS\\s+OF\\s+(\\d+)\\s*;?\\s*$$""")
  private val restoreT = rx(
    s"""^\\s*RESTORE\\s+(?:TABLE\\s+)?$P\\s+(?:TO\\s+)?TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)'\\s*;?\\s*$$""")
  private val fsck = rx(
    s"""^\\s*FSCK\\s+REPAIR\\s+TABLE\\s+$P(\\s+DRY\\s+RUN)?\\s*;?\\s*$$""")
  private val generate = rx(
    s"""^\\s*GENERATE\\s+symlink_format_manifest\\s+FOR\\s+TABLE\\s+$P\\s*;?\\s*$$""")
  private val analyze = rx(
    s"""^\\s*ANALYZE\\s+(?:TABLE\\s+)?$P\\s+COMPUTE\\s+STATISTICS\\s*;?\\s*$$""")
  private val history = rx(
    s"""^\\s*DESC(?:RIBE)?\\s+HISTORY\\s+$P\\s*;?\\s*$$""")
  private val detail = rx(
    s"""^\\s*DESC(?:RIBE)?\\s+DETAIL\\s+$P\\s*;?\\s*$$""")
  private val convert = rx(
    s"""^\\s*CONVERT\\s+TO\\s+GRAFT\\s+$P(?:\\s+PARTITIONED\\s+BY\\s+\\((.+?)\\))?\\s*;?\\s*$$""")
  // group 1 = IF NOT EXISTS; target P at groups 2-6, kind = group 7
  // (SHALLOW | DEEP), source P at 8-12, version = group 13,
  // timestamp = group 14
  private val cloneStmt = rx(
    s"""^\\s*CREATE\\s+TABLE\\s+(IF\\s+NOT\\s+EXISTS\\s+)?$P\\s+(SHALLOW|DEEP)\\s+CLONE\\s+$P(?:\\s+VERSION\\s+AS\\s+OF\\s+(\\d+)|\\s+TIMESTAMP\\s+AS\\s+OF\\s+'([^']+)')?\\s*;?\\s*$$""")
  // target P at groups 1-5; source quoted path = 6, format = 7,
  // pattern = 8, FORMAT_OPTIONS body = 9, COPY_OPTIONS body = 10
  private val copyInto = rx(
    s"""^\\s*COPY\\s+INTO\\s+$P\\s+FROM\\s+'([^']+)'\\s+FILEFORMAT\\s*=\\s*(\\w+)(?:\\s+PATTERN\\s*=\\s*'([^']+)')?(?:\\s+FORMAT_OPTIONS\\s*\\(([^)]*)\\))?(?:\\s+COPY_OPTIONS\\s*\\(([^)]*)\\))?\\s*;?\\s*$$""")
  private val alterSetProps = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+SET\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val alterUnsetProps = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+UNSET\\s+TBLPROPERTIES\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val alterAddCols = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+ADD\\s+COLUMNS?\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val alterColumnType = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+(?:SET\\s+DATA\\s+)?TYPE\\s+([A-Za-z0-9_()\\s,]+?)\\s*;?\\s*$$""")
  private val reorg = rx(
    s"""^\\s*REORG\\s+TABLE\\s+$P(?:\\s+WHERE\\s+(.+?))?\\s+APPLY\\s*\\(\\s*PURGE\\s*\\)\\s*;?\\s*$$""")
  private val alterNullability = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+`?([A-Za-z_][A-Za-z0-9_.]*)`?\\s+(SET|DROP)\\s+NOT\\s+NULL\\s*;?\\s*$$""")
  private val alterSyncIdentity = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+(?:ALTER|CHANGE)\\s+COLUMN\\s+`?([A-Za-z_][A-Za-z0-9_]*)`?\\s+SYNC\\s+IDENTITY\\s*;?\\s*$$""")
  private val alterAddConstraint = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+ADD\\s+CONSTRAINT\\s+(\\w+)\\s+CHECK\\s*\\((.+)\\)\\s*;?\\s*$$""")
  private val alterDropConstraint = rx(
    s"""^\\s*ALTER\\s+TABLE\\s+$P\\s+DROP\\s+CONSTRAINT\\s+(\\w+)\\s*;?\\s*$$""")
  private val showProps = rx(
    s"""^\\s*SHOW\\s+TBLPROPERTIES\\s+$P\\s*;?\\s*$$""")
  private val merge = rx(
    s"""^\\s*MERGE\\s+INTO\\s+$P(?:\\s+(?:AS\\s+)?(?!USING\\b)(\\w+))?\\s+USING\\s+(.+)$$""")
  // DML exists in Spark's own grammar — see [[claimableDml]]
  private val delete = rx(
    s"""^\\s*DELETE\\s+FROM\\s+$P(?:\\s+WHERE\\s+(.+?))?\\s*;?\\s*$$""")
  private val update = rx(
    s"""^\\s*UPDATE\\s+$P\\s+SET\\s+(.+?)\\s*;?\\s*$$""")

  /** First occurrence of `keyword` (an UPPERCASE word, possibly with
    * internal spaces) outside quotes/parens and on word boundaries, or -1.
    * Clause boundaries (`WHERE`, `WHEN`, `ZORDER BY`) must not match inside
    * a string literal — `SET note = concat(note, ' where x')` has no WHERE
    * clause — and not inside a `CASE ... END` expression, whose own
    * WHEN/THEN keywords are expression syntax, not clause syntax.
    */
  private[sql] def topLevelIndexOf(s: String, keyword: String): Int = {
    val upper = s.toUpperCase(java.util.Locale.ROOT)
    var depth = 0
    var caseDepth = 0
    var inQ: Char = 0
    var i = 0
    def wordChar(c: Char) = Character.isLetterOrDigit(c) || c == '_'
    def wordAt(kw: String): Boolean =
      upper.startsWith(kw, i) &&
        (i == 0 || !wordChar(s.charAt(i - 1))) &&
        (i + kw.length >= s.length || !wordChar(s.charAt(i + kw.length)))
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ != 0) { if (c == inQ) inQ = 0; i += 1 }
      else c match {
        case '\'' | '"' | '`' => inQ = c; i += 1
        case '('              => depth += 1; i += 1
        case ')'              => depth -= 1; i += 1
        case _ =>
          if (depth == 0 && caseDepth == 0 && wordAt(keyword)) return i
          if (wordAt("CASE")) { caseDepth += 1; i += 4 }
          else if (caseDepth > 0 && wordAt("END")) { caseDepth -= 1; i += 3 }
          else i += 1
      }
    }
    -1
  }

  /** First `=` outside quotes, or -1 — a key/value or column/expression
    * split must not cut inside a quoted token.
    */
  private def topLevelEq(s: String): Int = {
    var inQ: Char = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inQ != 0) { if (c == inQ) inQ = 0 }
      else if (c == '\'' || c == '"' || c == '`') inQ = c
      else if (c == '=') return i
      i += 1
    }
    -1
  }

  /** Split on commas outside parens/quotes (SET clause items can hold
    * function calls and string literals with commas).
    */
  private[sql] def splitTopLevel(s: String): Seq[String] = {
    val out = scala.collection.mutable.Buffer[String]()
    val cur = new StringBuilder
    var depth = 0
    var inQ: Char = 0
    for (c <- s) {
      if (inQ != 0) { cur += c; if (c == inQ) inQ = 0 }
      else c match {
        case '\'' | '"' | '`'  => inQ = c; cur += c
        case '('               => depth += 1; cur += c
        case ')'               => depth -= 1; cur += c
        case ',' if depth == 0 => out += cur.toString; cur.clear()
        case _                 => cur += c
      }
    }
    if (cur.nonEmpty) out += cur.toString
    out.toSeq.map(_.trim).filter(_.nonEmpty)
  }

  /** Parse `USING <source> ON <cond> WHEN ... [WHEN ...]` — everything
    * after the merge target. Clause boundaries are found with the same
    * quote/paren-aware scan as WHERE/ZORDER, so keywords inside subqueries
    * and string literals stay put.
    */
  private def parseMergeTail(rest: String):
      Option[(Option[String], Option[String], Option[String], Option[String], String, Seq[MergeClauseSpec[String]])] = {
    val oi = topLevelIndexOf(rest, "ON")
    if (oi < 0) return None
    val (srcSpec, afterOn) = (rest.substring(0, oi).trim, rest.substring(oi + 2))
    val wi = topLevelIndexOf(afterOn, "WHEN")
    if (wi < 0) return None
    val cond = afterOn.substring(0, wi).trim
    if (cond.isEmpty) return None

    // source: (subquery) | 'path' | identifier — each with optional [AS] alias
    var query: Option[String] = None
    var table: Option[String] = None
    var path: Option[String] = None
    var aliasPart = ""
    if (srcSpec.startsWith("(")) {
      var depth = 0; var inQ: Char = 0; var end = -1; var i = 0
      while (i < srcSpec.length && end < 0) {
        val c = srcSpec.charAt(i)
        if (inQ != 0) { if (c == inQ) inQ = 0 }
        else c match {
          case '\'' | '"' | '`' => inQ = c
          case '('              => depth += 1
          case ')'              => depth -= 1; if (depth == 0) end = i
          case _                => ()
        }
        i += 1
      }
      if (end < 0) return None
      query = Some(srcSpec.substring(1, end).trim)
      aliasPart = srcSpec.substring(end + 1).trim
    } else {
      val m = rx(s"^$P(.*)$$").matcher(srcSpec)
      // same claim rule as targets: a quoted name is a graft path only when
      // graft.-qualified or path-shaped — `my_view` is a catalog source
      if (m.matches() && claimableDml(m)) {
        path = Some(pathOf(m, 2)); aliasPart = m.group(6).trim
      } else if (m.matches()) {
        table = Some(pathOf(m, 2)); aliasPart = m.group(6).trim
      } else {
        val parts = srcSpec.split("\\s+", 2)
        table = Some(parts(0)); aliasPart = if (parts.length > 1) parts(1).trim else ""
      }
    }
    val alias = aliasPart.replaceFirst("(?i)^AS\\s+", "").trim match {
      case "" => None
      case a if a.matches("\\w+") => Some(a)
      case _  => return None
    }

    // WHEN clauses: split at each top-level WHEN
    var clausesText = afterOn.substring(wi)
    val specs = scala.collection.mutable.Buffer[MergeClauseSpec[String]]()
    while (clausesText.nonEmpty) {
      val next = topLevelIndexOf(clausesText.substring(4), "WHEN")
      val (clause, restText) =
        if (next < 0) (clausesText, "")
        else (clausesText.substring(0, next + 4), clausesText.substring(next + 4))
      specs += parseMergeClause(clause.trim).getOrElse(return None)
      clausesText = restText
    }
    Some((query, table, path, alias, cond, specs.toSeq))
  }

  private def parseMergeClause(clause: String): Option[MergeClauseSpec[String]] = {
    val ti = topLevelIndexOf(clause, "THEN")
    if (ti < 0) return None
    val head = clause.substring(0, ti).trim
    val action = clause.substring(ti + 4).trim.stripSuffix(";").trim
    val hm = java.util.regex.Pattern.compile(
      "(?is)^WHEN\\s+(NOT\\s+)?MATCHED(?:\\s+BY\\s+(SOURCE|TARGET))?(?:\\s+AND\\s+(.+))?$")
      .matcher(head)
    if (!hm.matches()) return None
    val matched = hm.group(1) == null
    val bySource = Option(hm.group(2)).exists(_.equalsIgnoreCase("SOURCE"))
    if (matched && hm.group(2) != null) return None // MATCHED BY x is not SQL
    val cond = Option(hm.group(3)).map(_.trim)
    val upper = action.toUpperCase(java.util.Locale.ROOT)
    val updatable = matched || bySource // DELETE/UPDATE forms
    if (updatable && upper == "DELETE")
      Some(MergeClauseSpec(matched, cond, "delete", None, bySource))
    else if (updatable && upper.matches("(?s)UPDATE\\s+SET\\s+\\*"))
      // UPDATE SET * has no source row in the by-source form — reject there
      if (bySource) None else Some(MergeClauseSpec(matched, cond, "update", None))
    else if (updatable && upper.startsWith("UPDATE"))
      action.replaceFirst("(?is)^UPDATE\\s+SET\\s+", "") match {
        case body if body != action =>
          Some(MergeClauseSpec(matched, cond, "update", Some(parseAssignments(body)), bySource))
        case _ => None
      }
    else if (!matched && !bySource && upper.matches("(?s)INSERT\\s+\\*"))
      Some(MergeClauseSpec(matched, cond, "insert", None))
    else if (!matched && !bySource && upper.startsWith("INSERT")) {
      val im = java.util.regex.Pattern.compile(
        "(?is)^INSERT\\s*\\(([^)]*)\\)\\s*VALUES\\s*\\((.+)\\)$").matcher(action)
      if (!im.matches()) return None
      val cols = splitTopLevel(im.group(1)).map(_.stripPrefix("`").stripSuffix("`"))
      val vals = splitTopLevel(im.group(2))
      if (cols.size != vals.size) return None
      Some(MergeClauseSpec(matched, cond, "insert", Some(cols.zip(vals))))
    } else None
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && "'\"`".contains(s.head) && s.last == s.head)
      s.substring(1, s.length - 1)
    else s

  private def parseAssignments(clause: String): Seq[(String, String)] =
    splitTopLevel(clause).map { item =>
      val eq = topLevelEq(item)
      require(eq > 0, s"malformed SET assignment '$item' (expected col = expr)")
      (item.substring(0, eq).trim.stripPrefix("`").stripSuffix("`"),
        item.substring(eq + 1).trim)
    }

  /** The maintenance command for `sqlText`, or None when it is ordinary
    * Spark SQL. Kept regex-based deliberately: the grammar is six fixed
    * statement shapes over a quoted path — an ANTLR grammar would be more
    * machinery than language.
    */
  def parseMaintenance(sqlText: String): Option[LogicalPlan] = {
    val o = optimize.matcher(sqlText)
    if (o.matches()) {
      // tail = [WHERE <pred>] [ZORDER BY (cols)] — split by quote-aware
      // scan so a 'ZORDER BY' inside a predicate string literal stays put
      val tail = Option(o.group(6)).map(_.trim).getOrElse("")
      val zi = topLevelIndexOf(tail, "ZORDER")
      val (whereTail, zTail) =
        if (zi >= 0) (tail.substring(0, zi).trim, tail.substring(zi).trim)
        else (tail, "")
      val where =
        if (whereTail.isEmpty) None
        else if (whereTail.toUpperCase(java.util.Locale.ROOT).startsWith("WHERE"))
          Some(whereTail.substring(5).trim)
        else return None // unrecognized tail: not our statement
      val cols =
        if (zTail.isEmpty) Nil
        else {
          val body = zTail.substring("ZORDER".length).trim match {
            case b if b.toUpperCase(java.util.Locale.ROOT).startsWith("BY") =>
              b.substring(2).trim
            case _ => return None
          }
          val inner = if (body.startsWith("(") && body.endsWith(")"))
            body.substring(1, body.length - 1) else body
          splitTopLevel(inner).map(_.stripPrefix("`").stripSuffix("`")).filter(_.nonEmpty)
        }
      return if (claimableMaintenance(o))
        Some(GraftOptimizeCommand(pathOf(o, 2), where, cols))
      else None
    }
    val rg = reorg.matcher(sqlText)
    if (rg.matches() && claimableMaintenance(rg))
      return Some(GraftReorgCommand(pathOf(rg, 2),
        Option(rg.group(6)).map(_.trim)))
    val v = vacuum.matcher(sqlText)
    if (v.matches() && claimableMaintenance(v))
      return Some(GraftVacuumCommand(pathOf(v, 2),
        Option(v.group(7)).map(_.toDouble), v.group(8) != null,
        lite = "LITE".equalsIgnoreCase(v.group(6))))
    val rv = restoreV.matcher(sqlText)
    if (rv.matches() && claimableMaintenance(rv))
      return Some(GraftRestoreCommand(pathOf(rv, 2), Some(rv.group(6).toLong), None))
    val rt = restoreT.matcher(sqlText)
    if (rt.matches() && claimableMaintenance(rt))
      return Some(GraftRestoreCommand(pathOf(rt, 2), None, Some(rt.group(6))))
    val f = fsck.matcher(sqlText)
    if (f.matches() && claimableMaintenance(f))
      return Some(GraftFsckCommand(pathOf(f, 2), f.group(6) != null))
    val g = generate.matcher(sqlText)
    if (g.matches() && claimableMaintenance(g))
      return Some(GraftGenerateManifestCommand(pathOf(g, 2)))
    // ANALYZE TABLE <ident> COMPUTE STATISTICS is Spark's own grammar on
    // catalog tables — claim only path-shaped/graft-qualified targets
    val an = analyze.matcher(sqlText)
    if (an.matches() && claimableDml(an))
      return Some(GraftAnalyzeCommand(pathOf(an, 2)))
    val h = history.matcher(sqlText)
    if (h.matches() && claimableMaintenance(h))
      return Some(GraftDescribeHistoryCommand(pathOf(h, 2)))
    val dt = detail.matcher(sqlText)
    if (dt.matches() && claimableMaintenance(dt))
      return Some(GraftDescribeDetailCommand(pathOf(dt, 2)))
    val cv = convert.matcher(sqlText)
    if (cv.matches())
      return Some(GraftConvertCommand(pathOf(cv, 2), Option(cv.group(6)).map(_.trim)))
    // SHALLOW/DEEP CLONE is not Spark grammar, but a coexisting extension
    // (e.g. Delta) has the same statement — claim by the SOURCE's
    // plausibility (the target is new and cannot resolve yet) AND, when
    // the target is a bare identifier, the TARGET's too: a bare non-graft
    // target with a quoted source must fall through to the delegate, not
    // die in pathForName (a graft-catalog-qualified new target stays
    // plausible through its catalog registration)
    val sc = cloneStmt.matcher(sqlText)
    if (sc.matches() && claimableMaintenance(sc, 9) && claimableMaintenance(sc, 3))
      return Some(GraftCloneCommand(pathOf(sc, 3), pathOf(sc, 9),
        Option(sc.group(13)).map(_.toLong), sc.group(1) != null,
        deep = sc.group(7).equalsIgnoreCase("DEEP"),
        timestamp = Option(sc.group(14))))
    // COPY INTO is not Spark grammar either (Databricks/Delta surface) —
    // same maintenance claim rule on the target
    val cp = copyInto.matcher(sqlText)
    if (cp.matches() && claimableMaintenance(cp)) {
      def opts(body: String): Map[String, String] =
        Option(body).filter(_.trim.nonEmpty).map { b =>
          splitTopLevel(b).map { item =>
            val eq = topLevelEq(item)
            require(eq > 0, s"malformed option entry '$item' (expected key = value)")
            (unquote(item.substring(0, eq).trim).toLowerCase(java.util.Locale.ROOT),
              unquote(item.substring(eq + 1).trim))
          }.toMap
        }.getOrElse(Map.empty)
      val copyOpts = opts(cp.group(10))
      return Some(GraftCopyIntoCommand(pathOf(cp, 2), cp.group(6), cp.group(7),
        Option(cp.group(8)), opts(cp.group(9)),
        force = copyOpts.get("force").exists(_.equalsIgnoreCase("true"))))
    }
    // ALTER TABLE / SHOW TBLPROPERTIES also exist in Spark's grammar, so
    // they follow the same claim rule as DML
    val asp = alterSetProps.matcher(sqlText)
    if (asp.matches() && claimableDml(asp)) {
      val props = splitTopLevel(asp.group(6)).map { item =>
        val eq = topLevelEq(item)
        require(eq > 0, s"malformed TBLPROPERTIES entry '$item' (expected key = value)")
        (unquote(item.substring(0, eq).trim), unquote(item.substring(eq + 1).trim))
      }
      return Some(GraftAlterPropertiesCommand(pathOf(asp, 2), props, Nil))
    }
    val aup = alterUnsetProps.matcher(sqlText)
    if (aup.matches() && claimableDml(aup))
      return Some(GraftAlterPropertiesCommand(pathOf(aup, 2), Nil,
        splitTopLevel(aup.group(6)).map(unquote)))
    val aac = alterAddCols.matcher(sqlText)
    if (aac.matches() && claimableDml(aac))
      return Some(GraftAddColumnsCommand(pathOf(aac, 2), aac.group(6).trim))
    // ALTER COLUMN ... TYPE is Spark grammar on catalog tables — same
    // claim rule as the other ALTER forms
    val act = alterColumnType.matcher(sqlText)
    if (act.matches() && claimableDml(act))
      return Some(GraftAlterColumnTypeCommand(pathOf(act, 2),
        act.group(6), act.group(7).trim))
    val asi = alterSyncIdentity.matcher(sqlText)
    if (asi.matches() && claimableDml(asi))
      return Some(GraftSyncIdentityCommand(pathOf(asi, 2), asi.group(6)))
    val ann = alterNullability.matcher(sqlText)
    if (ann.matches() && claimableDml(ann))
      return Some(GraftSetNullabilityCommand(pathOf(ann, 2), ann.group(6),
        nullable = "DROP".equalsIgnoreCase(ann.group(7))))
    val acc = alterAddConstraint.matcher(sqlText)
    if (acc.matches() && claimableDml(acc))
      return Some(GraftAddConstraintCommand(pathOf(acc, 2), acc.group(6), acc.group(7).trim))
    val adc = alterDropConstraint.matcher(sqlText)
    if (adc.matches() && claimableDml(adc))
      return Some(GraftDropConstraintCommand(pathOf(adc, 2), adc.group(6)))
    val sp = showProps.matcher(sqlText)
    if (sp.matches() && claimableDml(sp))
      return Some(GraftShowPropertiesCommand(pathOf(sp, 2)))
    val mg = merge.matcher(sqlText)
    if (mg.matches() && claimableDml(mg)) {
      parseMergeTail(mg.group(7)) match {
        case Some((q, tbl, p, srcAlias, cond, clauses)) =>
          return Some(GraftMergeCommand(pathOf(mg, 2), Option(mg.group(6)),
            q, tbl, p, srcAlias, cond, clauses))
        case None => () // malformed tail: fall through to Spark's parser
      }
    }
    val d = delete.matcher(sqlText)
    if (d.matches() && claimableDml(d))
      return Some(GraftDeleteCommand(pathOf(d, 2), Option(d.group(6)).map(_.trim)))
    val u = update.matcher(sqlText)
    if (u.matches() && claimableDml(u)) {
      // rest = <assignments> [WHERE <pred>] — same quote-aware boundary
      val rest = u.group(6)
      val wi = topLevelIndexOf(rest, "WHERE")
      val (setClause, where) =
        if (wi >= 0) (rest.substring(0, wi).trim, Some(rest.substring(wi + 5).trim))
        else (rest.trim, None)
      return Some(GraftUpdateCommand(pathOf(u, 2), where, parseAssignments(setClause)))
    }
    None
  }
}

/** `spark.sql.extensions=graft.sql.GraftSparkSessionExtension` — injects
  * [[GraftSqlParser]] in front of Spark's parser (the standard table-format
  * extension point; Delta registers its SQL surface the same way), plus the
  * resolution rule that lands [[graft.catalog.GraftCatalog]] reads on the
  * native V1 scan path.
  */
class GraftSparkSessionExtension extends (SparkSessionExtensions => Unit) {
  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectParser((_, delegate) => new GraftSqlParser(delegate))
    extensions.injectResolutionRule(session => new GraftCatalogReadFallback(session))
    extensions.injectResolutionRule(session => new GraftRowLevelRewrite(session))
    // table_changes / table_changes_by_path — the CDF SQL surface
    GraftTableFunctions.descriptions.foreach(extensions.injectTableFunction)
  }
}

/** Analyzer rule: a READ of a [[graft.catalog.GraftV2Table]]
  * (`DataSourceV2Relation`) becomes the V1 [[graft.sources.GraftRelation]]
  * under a `Project` that re-publishes the original output exprIds — from
  * there the existing `GraftScanRewrite` optimizer rule (installed here)
  * plans the native vectorized parquet scan with log-served file listing,
  * stats skipping, metadata-only aggregates and deletion-vector masking.
  * ONE read path for catalog and path reads, not two.
  *
  * WRITE positions are left alone: `V2WriteCommand.table` must stay a
  * `NamedRelation` for the V1 write fallback (AppendData → InsertableRelation)
  * to execute, so the rule skips any relation that is some write command's
  * target.
  */
class GraftCatalogReadFallback(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{Project, V2WriteCommand}
  import org.apache.spark.sql.execution.datasources.LogicalRelation
  import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

  import graft.catalog.GraftV2Table
  import graft.sources.{GraftRelation, GraftScanRewrite}

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // relations in WRITE/ROW-LEVEL-COMMAND target position must stay V2
    // nodes: V2WriteCommand needs its NamedRelation for the V1 write
    // fallback, and DeleteFromTable's planner resolves SupportsDelete on
    // the DataSourceV2Relation itself
    import org.apache.spark.sql.catalyst.plans.logical.{DeleteFromTable, MergeIntoTable, UpdateTable}
    val writeTargets: Seq[AnyRef] = plan.collect {
      case w: V2WriteCommand => Seq(w.table)
      case d: DeleteFromTable => d.table.collect { case r: DataSourceV2Relation => r }
      case u: UpdateTable => u.table.collect { case r: DataSourceV2Relation => r }
      case m: MergeIntoTable => m.targetTable.collect { case r: DataSourceV2Relation => r }
    }.flatten
    plan resolveOperators {
      // `spark.read.option("readChangeFeed","true").table("graft_cat.ns.t")`:
      // the reader options ride the V2 relation, so a CDF-optioned catalog
      // read swaps onto the same batched CDF relation the path form
      // (`format("graft").option("readChangeFeed",...)`) builds — table
      // columns re-publish the original exprIds, and the CDF metadata
      // columns (_change_type, _commit_version, _commit_timestamp) are
      // APPENDED: parents selecting them resolve in the next fixed-point
      // iteration (they cannot resolve against the V2 table schema).
      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftV2Table] && !writeTargets.exists(_ eq r) &&
            Option(r.options.get("readChangeFeed")).exists(_.trim.equalsIgnoreCase("true")) =>
        val v2 = r.table.asInstanceOf[GraftV2Table]
        require(v2.versionAsOf.isEmpty,
          s"readChangeFeed cannot combine with VERSION AS OF on ${v2.name()} — " +
            "bound the feed with startingVersion/endingVersion instead")
        import scala.jdk.CollectionConverters._
        val opts = r.options.asScala.toMap ++ Map("path" -> v2.path)
        val rel = org.apache.spark.sql.execution.datasources.DataSource(
          spark, className = "graft", options = opts).resolveRelation()
        val lr = LogicalRelation(rel)
        val resolver = spark.sessionState.conf.resolver
        val aliases = r.output.map { orig =>
          val n = lr.output.find(a => resolver(a.name, orig.name)).getOrElse(
            throw new IllegalStateException(
              s"graft catalog CDF read: column ${orig.name} of ${v2.path} is not " +
                "in the change-feed schema"))
          Alias(n, orig.name)(exprId = orig.exprId, qualifier = orig.qualifier)
        }
        val cdfCols = lr.output.filterNot(a =>
          r.output.exists(o => resolver(o.name, a.name)))
        Project(aliases ++ cdfCols, lr)

      case r: DataSourceV2Relation
          if r.table.isInstanceOf[GraftV2Table] && !writeTargets.exists(_ eq r) =>
        val v2 = r.table.asInstanceOf[GraftV2Table]
        val path = v2.path
        GraftScanRewrite.install(spark)
        // reader-option time travel (`spark.read.option("versionAsOf", 3)
        // .table(...)` — Delta's option shape, same resolution as the path
        // form). SQL `VERSION AS OF` already rode in on the table handle;
        // both at once is a contradiction to refuse. The relation pins the
        // option's snapshot; a column added after it reads loudly (the
        // alias loop below), never silently null.
        import scala.jdk.CollectionConverters._
        val optVersion = graft.sources.GraftDataSource.resolveVersion(
          path, r.options.asScala.toMap,
          spark.sessionState.conf.sessionLocalTimeZone)
        require(v2.versionAsOf.isEmpty || optVersion.isEmpty,
          s"specify time travel for ${v2.name()} as either SQL VERSION/TIMESTAMP " +
            "AS OF or the versionAsOf/timestampAsOf reader option, not both")
        val lr = LogicalRelation(
          GraftRelation(spark.sqlContext, path, v2.versionAsOf.orElse(optVersion)))
        // the session resolver, not toLowerCase: under caseSensitive=true a
        // lowercased map would collapse columns differing only by case
        val resolver = spark.sessionState.conf.resolver
        val aliases = r.output.map { orig =>
          val n = lr.output.find(a => resolver(a.name, orig.name)).getOrElse(
            throw new IllegalStateException(
              s"graft catalog read: column ${orig.name} of $path vanished from the " +
                "current snapshot schema; re-resolve the plan"))
          Alias(n, orig.name)(exprId = orig.exprId, qualifier = orig.qualifier)
        }
        Project(aliases, lr)

      // `spark.readStream.table("graft_cat.ns.t")`: replace the V2
      // streaming node with the V1 graft stream source in rows-only mode
      // (dropChangeColumns aligns the source schema with the table's — the
      // Delta readStream.table shape), re-publishing the original output
      // exprIds. Full replacement, not the v1Relation fallback slot:
      // TableCapabilityCheck demands MICRO_BATCH_READ on any surviving
      // StreamingRelationV2 before the fallback slot is ever consulted.
      // Reader options (.option(...)) pass through: admission budgets,
      // startingVersion, ignoreDeletes...
      case sr: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if sr.table.isInstanceOf[GraftV2Table] =>
        val v2 = sr.table.asInstanceOf[GraftV2Table]
        require(v2.versionAsOf.isEmpty,
          s"cannot stream from a time-travel (VERSION AS OF) read of ${v2.name()}")
        import scala.jdk.CollectionConverters._
        // rows-only by default (Delta's readStream.table shape); with
        // option("readChangeFeed","true") the stream keeps its change
        // columns, which extend the V2 table schema exactly like the batch
        // CDF branch above
        val wantsChangeFeed = sr.extraOptions.asScala
          .exists { case (k, v) =>
            k.equalsIgnoreCase("readChangeFeed") && v.trim.equalsIgnoreCase("true") }
        val opts = sr.extraOptions.asScala.toMap ++
          Map("path" -> v2.path) ++
          (if (wantsChangeFeed) Map.empty
           else Map("dropChangeColumns" -> "true"))
        val ds = org.apache.spark.sql.execution.datasources.DataSource(
          spark, className = "graft", options = opts)
        val v1 = org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(ds)
        val resolver = spark.sessionState.conf.resolver
        val aliases = sr.output.map { orig =>
          val n = v1.output.find(a => resolver(a.name, orig.name)).getOrElse(
            throw new IllegalStateException(
              s"graft catalog stream: column ${orig.name} of ${v2.path} is not in " +
                "the stream source schema"))
          Alias(n, orig.name)(exprId = orig.exprId, qualifier = orig.qualifier)
        }
        val changeCols = v1.output.filterNot(a =>
          sr.output.exists(o => resolver(o.name, a.name)))
        Project(aliases ++ changeCols, v1)
    }
  }
}

/** Run one statement against `spark` with the graft grammar available even
  * when the session was built without the extension (maintenance commands
  * execute directly; everything else falls through to `spark.sql`).
  */
object GraftSql {
  def sql(spark: SparkSession, sqlText: String): DataFrame =
    GraftSqlParser.parseMaintenance(sqlText) match {
      case Some(plan) => org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, plan)
      case None       => spark.sql(sqlText)
    }
}
