package graft.sql

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType

import graft.catalog.GraftV2Table

/** Analyzer rule: plain-`spark.sql` row-level DML on graft CATALOG
  * identifiers —
  *
  * {{{
  *   UPDATE graft_cat.ns.t SET val = val + 1 WHERE grp = 'a'
  *   MERGE INTO graft_cat.ns.t AS t USING src AS s ON t.id = s.id
  *     WHEN MATCHED THEN UPDATE SET ... WHEN NOT MATCHED THEN INSERT ...
  *   DELETE FROM graft_cat.ns.t WHERE val + 1 > 5   -- non-pushable conditions
  * }}}
  *
  * Spark plans these as `UpdateTable` / `MergeIntoTable` / `DeleteFromTable`
  * over the V2 relation and then demands `SupportsRowLevelOperations` — a
  * second, V2 scan-and-replace execution path. Graft deliberately has ONE
  * mature row-level engine (the commit-log operators behind the path API:
  * [[graft.operators.GraftMerge]], [[graft.operators.TableOps.update]]),
  * so this rule converts the RESOLVED plans into the same runnable commands
  * the graft SQL surface executes — identical semantics, identical
  * operation metrics, identical CDC — instead of growing a parallel
  * executor. Delta takes the same route: its analyzer rule rewrites native
  * `MergeIntoTable` into Delta commands rather than implementing the
  * row-level-operation scan/write contract.
  *
  * Resolved expressions are re-rendered to SQL text with every column
  * reference re-qualified by ORIGIN (target attrs → the merge's target
  * alias, source attrs → the source alias), so same-named columns on the
  * two sides stay unambiguous. UPDATE/DELETE conditions carrying
  * subqueries — non-correlated AND correlated EXISTS/IN — skip the text
  * round-trip and ride the resolved expression (see
  * [[graft.operators.BoundExpr.Resolved]]: correlated outer references
  * rebind onto each evaluation frame, then Spark's own decorrelation
  * plans the semi/anti join). SET assignments and MERGE ON/clause
  * conditions and values accept NON-correlated SCALAR subqueries: SQL
  * semantics make such a subquery a per-statement constant, so the command
  * executes it exactly once at run time (against the pre-statement state,
  * like every other read the statement makes) and splices the result in as
  * a literal ([[DmlExprBox]]). UPDATE SET values and MERGE CLAUSE
  * conditions/values further accept PER-ROW subqueries — correlated
  * SCALAR subqueries AND set-valued IN/EXISTS predicates, correlated or
  * not (plan-level via [[graft.operators.BoundExpr.Resolved]] — beyond
  * Delta, which refuses all of them). The MERGE ON condition,
  * which runs INSIDE the join where no decorrelation applies, accepts the
  * per-statement-constant shapes only: non-correlated scalars, and
  * non-correlated IN/EXISTS evaluated once and spliced as a bounded
  * literal IN-list / boolean ([[evalConstSubqueries]]). Still refused
  * loudly: CORRELATED subqueries in the ON condition, oversized or
  * multi-column constant INs (materialize into the source),
  * lateral/table-valued plan expressions, non-deterministic conditions
  * (the merge join evaluates them more than once), and nested-field
  * assignment keys.
  *
  * `DeleteFromTable` converts ONLY when the native `SupportsDelete` path
  * cannot express the condition as V1 filters — natively-pushable deletes
  * keep their stock plan (and empty result), so this rule widens DELETE to
  * arbitrary deterministic conditions without changing what already works.
  */
class GraftRowLevelRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  import GraftRowLevelRewrite._

  override def apply(plan: LogicalPlan): LogicalPlan = plan resolveOperators {
    case u: UpdateTable if u.resolved && graftTarget(u.table).isDefined =>
      val v2 = graftTarget(u.table).get
      requireWritable(v2, "UPDATE")
      // bare rendering: TableOps.update evaluates against the unaliased
      // table frame, and every reference is a target column
      val none = AttributeSet.empty
      val tgtOut = targetOutput(u.table)
      val set = u.assignments.map { a =>
        keyName(a.key, "UPDATE SET") ->
          part(a.value, tgtOut, Nil, Nil, Nil, "UPDATE SET",
            allowRowSubqueries = true)
      }
      def textSet: Seq[(String, String)] =
        set.map { case (k, p) => k -> p.swap.toOption.get }
      val anyBoxed = set.exists(_._2.isRight)
      u.condition match {
        case Some(c) if hasSubquery(c) =>
          // subqueries cannot round-trip through text — keep the RESOLVED
          // expression and evaluate it plan-level. Correlated EXISTS/IN
          // rebind their outer references onto each evaluation frame and
          // decorrelate through Spark's own semi/anti-join rewrite.
          requireDeterministic(c, "UPDATE")
          if (anyBoxed)
            GraftUpdateSubqueryCommand(v2.path, None, Some(new DmlCondBox(c, tgtOut)), set)
          else GraftUpdateExprCommand(v2.path, new DmlCondBox(c, tgtOut), textSet)
        case cond =>
          val where = cond.map { c =>
            requireDeterministic(c, "UPDATE")
            render(c, u.table.outputSet, Nil, none, Nil)
          }
          if (anyBoxed) GraftUpdateSubqueryCommand(v2.path, where, None, set)
          else GraftUpdateCommand(v2.path, where, textSet)
      }

    case d: DeleteFromTable
        if d.resolved && graftTarget(d.table).isDefined &&
          !nativelyDeletable(d.condition) =>
      val v2 = graftTarget(d.table).get
      requireWritable(v2, "DELETE")
      requireDeterministic(d.condition, "DELETE")
      if (hasSubquery(d.condition)) {
        GraftDeleteExprCommand(v2.path, new DmlCondBox(d.condition, targetOutput(d.table)))
      } else
        GraftDeleteCommand(v2.path,
          Some(render(d.condition, d.table.outputSet, Nil, AttributeSet.empty, Nil)))

    // INSERT OVERWRITE under partitionOverwriteMode=dynamic: Spark plans
    // OverwritePartitionsDynamic, which has NO V1-write fallback exec —
    // rewrite it onto the commit-log dynamic overwrite (Delta's
    // DeltaDynamicPartitionOverwriteCommand takes the same route). The
    // query's output is already resolved against the table schema here.
    case o: OverwritePartitionsDynamic
        if o.query.resolved && graftTarget(o.table).isDefined =>
      val v2 = graftTarget(o.table).get
      requireWritable(v2, "INSERT OVERWRITE (dynamic partition mode)")
      GraftDynamicOverwriteCommand(v2.path, o.query)

    case m: MergeIntoTable if m.resolved && graftTarget(m.targetTable).isDefined =>
      val v2 = graftTarget(m.targetTable).get
      requireWritable(v2, "MERGE INTO")
      requireDeterministic(m.mergeCondition, "MERGE")
      val tgt = m.targetTable.outputSet
      val src = m.sourceTable.outputSet
      // ON condition: non-correlated scalars only (it runs INSIDE the join
      // — a correlated subquery cannot be decorrelated there, and a
      // set-valued one cannot be spliced). Clause conditions and
      // UPDATE/INSERT values additionally admit PER-ROW subqueries —
      // correlated scalars and IN/EXISTS predicates: they evaluate over
      // the merge's joined frame (disposition pass / output projection —
      // both Projects, where Spark plans and decorrelates them), through
      // BoundExpr.Resolved.
      def r(e: Expression): SqlPart =
        part(e, m.targetTable.output, Seq(TgtAlias),
          m.sourceTable.output, Seq(SrcAlias), "MERGE ON")
      def rClause(e: Expression): SqlPart =
        part(e, m.targetTable.output, Seq(TgtAlias),
          m.sourceTable.output, Seq(SrcAlias), "MERGE clause",
          allowRowSubqueries = true)
      // WITH SCHEMA EVOLUTION nuance: Spark expands `UPDATE SET *` /
      // `INSERT *` against the PRE-evolution target schema, so replaying
      // the expanded assignments verbatim would leave every evolved column
      // NULL. Star-marked updates (`fromStar`) and star-SHAPED inserts
      // (assignments covering the whole target, each from the same-named
      // source column — Spark's resolved form keeps no insert star flag,
      // and an explicit all-columns insert list is structurally identical)
      // map back to graft's UpdateAll/InsertAll, which under
      // withSchemaEvolution carry source values into evolved columns —
      // Delta's star semantics.
      val resolver = spark.sessionState.conf.resolver
      def starShaped(assigns: Seq[Assignment]): Boolean =
        m.withSchemaEvolution &&
          assigns.length == m.targetTable.output.length &&
          assigns.forall { as =>
            as.key.isInstanceOf[Attribute] && (as.value match {
              case v: AttributeReference =>
                src.contains(v) && resolver(v.name, as.key.asInstanceOf[Attribute].name)
              case _ => false
            })
          }
      def clause(a: MergeAction, matched: Boolean, bySource: Boolean)
        : MergeClauseSpec[SqlPart] = {
        // per-clause AND conditions run in the same multi-pass joins as the
        // merge condition — the determinism contract covers them too
        a.condition.foreach(requireDeterministic(_, "MERGE clause"))
        a match {
          case UpdateAction(cond, _, fromStar)
              if fromStar && m.withSchemaEvolution && !bySource =>
            MergeClauseSpec(matched, cond.map(rClause), "update", None, bySource)
          case UpdateAction(cond, assigns, _) =>
            MergeClauseSpec(matched, cond.map(rClause), "update",
              Some(assigns.map(as => keyName(as.key, "UPDATE SET") -> rClause(as.value))),
              bySource)
          case DeleteAction(cond) =>
            MergeClauseSpec(matched, cond.map(rClause), "delete", None, bySource)
          case InsertAction(cond, assigns) if starShaped(assigns) =>
            MergeClauseSpec(matched, cond.map(rClause), "insert", None, bySource)
          case InsertAction(cond, assigns) =>
            MergeClauseSpec(matched, cond.map(rClause), "insert",
              Some(assigns.map(as => keyName(as.key, "INSERT") -> rClause(as.value))),
              bySource)
          case other => throw new UnsupportedOperationException(
            s"MERGE INTO ${v2.name()}: unsupported merge action $other")
        }
      }
      val clauses =
        m.matchedActions.map(clause(_, matched = true, bySource = false)) ++
          m.notMatchedActions.map(clause(_, matched = false, bySource = false)) ++
          m.notMatchedBySourceActions.map(clause(_, matched = false, bySource = true))
      GraftRowLevelMergeCommand(v2.path, m.sourceTable, r(m.mergeCondition),
        clauses, m.withSchemaEvolution)
  }

  /** A rendered fragment — already text, or boxed for evaluate-then-render
    * at command run time when it carries subqueries text cannot carry.
    */
  private def part(
      e: Expression,
      tgt: Seq[Attribute], tgtQualifier: Seq[String],
      src: Seq[Attribute], srcQualifier: Seq[String],
      what: String,
      // UPDATE SET and MERGE clause conditions/values additionally admit
      // PER-ROW subqueries: correlated SCALAR subqueries AND set-valued
      // IN/EXISTS predicates, correlated or not (evaluated plan-level as a
      // BoundExpr.Resolved — over the rewrite frame or the merge's joined
      // frame; Spark plans predicate subqueries in those Project/Filter
      // frames and decorrelates correlated ones to outer/semi/anti joins. Delta
      // refuses every one of these). The MERGE ON condition keeps the
      // refusal for anything beyond a non-correlated scalar: it runs
      // inside the join itself, where no decorrelation applies.
      allowRowSubqueries: Boolean = false): SqlPart =
    if (!hasSubquery(e))
      Left(render(e, AttributeSet(tgt), tgtQualifier, AttributeSet(src), srcQualifier))
    else {
      val bad = e.collect {
        case p: PlanExpression[_]
            if !constSubquery(p) && !(allowRowSubqueries && rowEvaluable(p)) => p
      }
      if (bad.nonEmpty) throw new UnsupportedOperationException(
        s"graft $what supports only ${if (allowRowSubqueries)
          "SCALAR and IN/EXISTS"
        else "NON-correlated SCALAR/IN/EXISTS"} subqueries here — " +
          s"materialize anything else into the MERGE source: ${bad.head.sql}")
      Right(new DmlExprBox(e, tgt, tgtQualifier, src, srcQualifier))
    }

  /** Subquery shapes a ROW-LEVEL position (UPDATE SET value, MERGE clause
    * condition/value) can evaluate plan-level over its frame: per-row
    * correlated scalars, and set-valued IN (ListQuery) / EXISTS predicates
    * — correlated or not. Lateral and table-valued plan expressions stay
    * refused.
    */
  private def rowEvaluable(p: PlanExpression[_]): Boolean = p match {
    case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
      s.outerAttrs.nonEmpty
    case _: org.apache.spark.sql.catalyst.expressions.ListQuery => true
    case _: org.apache.spark.sql.catalyst.expressions.Exists => true
    case _ => false
  }

  /** Subquery shapes that are PER-STATEMENT CONSTANTS under SQL semantics
    * — evaluated exactly once at run time and spliced into rendered text
    * ([[evalConstSubqueries]]): non-correlated scalars, and (MERGE ON's
    * widening beyond Delta) non-correlated IN-lists / EXISTS booleans.
    */
  private def constSubquery(p: PlanExpression[_]): Boolean = p match {
    case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery =>
      s.outerAttrs.isEmpty
    case l: org.apache.spark.sql.catalyst.expressions.ListQuery =>
      l.outerAttrs.isEmpty
    case x: org.apache.spark.sql.catalyst.expressions.Exists =>
      x.outerAttrs.isEmpty
    case _ => false
  }

  private def requireWritable(v2: GraftV2Table, what: String): Unit =
    require(v2.versionAsOf.isEmpty,
      s"cannot $what through a time-travel (VERSION AS OF) read of ${v2.name()}")

  private def requireDeterministic(e: Expression, what: String): Unit =
    require(e.deterministic,
      s"$what condition must be deterministic (graft evaluates it in more than " +
        s"one join pass): ${e.sql}")

  private def hasSubquery(e: Expression): Boolean =
    e.exists(_.isInstanceOf[PlanExpression[_]])

  /** The target relation's output in SCHEMA order — what the kept
    * expression's attribute references resolve against at execution.
    */
  private def targetOutput(plan: LogicalPlan): Seq[Attribute] = plan.output

  /** The graft V2 table under alias wrappers — and ONLY alias wrappers: a
    * target under a project/filter/join is not a rewritable DML target.
    */
  private def graftTarget(plan: LogicalPlan): Option[GraftV2Table] = plan match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftV2Table] =>
      Some(r.table.asInstanceOf[GraftV2Table])
    case _ => None
  }

  /** Whether the stock `SupportsDelete` path will accept `condition`: every
    * conjunct must translate to a V1 filter graft can render back to SQL.
    */
  private def nativelyDeletable(condition: Expression): Boolean =
    splitConjunctivePredicates(condition).forall { p =>
      org.apache.spark.sql.graft.SparkBridge.translateFilter(p)
        .exists(f => GraftV2Table.filterToSql(f).isDefined)
    }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
    case other => Seq(other)
  }
}

object GraftRowLevelRewrite {
  /** Join-side aliases the rendered SQL re-qualifies references with — the
    * same frames [[graft.operators.GraftMerge]] aliases its two inputs as.
    */
  val TgtAlias = "__graft_t"
  val SrcAlias = "__graft_s"

  /** A DML fragment: rendered SQL text, or a [[DmlExprBox]] deferred to run
    * time because it carries non-correlated scalar subqueries.
    */
  type SqlPart = Either[String, DmlExprBox]

  /** The most literals a constant IN-subquery may splice into rendered
    * text (MERGE ON position): beyond this the condition string — parsed
    * and evaluated inside the merge joins — stops being a sane plan node,
    * so the statement refuses with the materialize advice instead.
    */
  private[sql] val MaxSplicedInValues = 1000

  /** Evaluate every NON-correlated subquery in `e` to literal form — each
    * plan runs EXACTLY ONCE (SQL semantics: such a subquery is a
    * per-statement constant reading the pre-statement state).
    *
    *  - scalar: an empty result is NULL; more than one row is the standard
    *    scalar-subquery error.
    *  - `IN (subquery)`: the result set splices as a literal IN-list
    *    (3-valued logic preserved — NULLs in the set stay NULL literals;
    *    an EMPTY set is FALSE, the SQL rule). Bounded by
    *    [[MaxSplicedInValues]]; multi-column IN refuses (no sane text
    *    form).
    *  - `EXISTS (subquery)`: a boolean literal.
    */
  private[sql] def evalConstSubqueries(
      spark: SparkSession,
      e: Expression): Expression = e.transform {
    case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
        if s.outerAttrs.isEmpty =>
      // limit(2) rides the plan — two rows already prove the error, and an
      // unbounded collect would materialize a buggy billion-row scalar
      // subquery on the driver before the guard fired
      val rows =
        org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, s.plan)
          .limit(2).collect()
      require(rows.length <= 1,
        "scalar subquery in DML returned more than one row")
      val v = if (rows.isEmpty) null else rows(0).get(0)
      org.apache.spark.sql.catalyst.expressions.Literal.create(v, s.dataType)
    case in @ org.apache.spark.sql.catalyst.expressions.InSubquery(values, q)
        if q.outerAttrs.isEmpty =>
      if (values.length != 1) throw new UnsupportedOperationException(
        "graft MERGE ON supports single-column IN (subquery) only — " +
          s"materialize a multi-column IN into the MERGE source: ${in.sql}")
      // the bound rides the COLLECT (limit pushed into the plan) — an
      // unbounded collect-then-count would materialize a billion-row
      // subquery on the driver before the guard could refuse
      val rows = org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, q.plan)
        .limit(MaxSplicedInValues + 1).collect()
      if (rows.length > MaxSplicedInValues) throw new UnsupportedOperationException(
        s"IN (subquery) in MERGE ON returned more than $MaxSplicedInValues " +
          s"rows (the splice bound) — materialize it into the " +
          s"MERGE source: ${in.sql}")
      val dt = q.plan.output.head.dataType
      if (rows.isEmpty)
        // x IN (empty set) is FALSE — for NULL x too (SQL rule)
        org.apache.spark.sql.catalyst.expressions.Literal.FalseLiteral
      else
        org.apache.spark.sql.catalyst.expressions.In(values.head,
          rows.toSeq.map(r =>
            org.apache.spark.sql.catalyst.expressions.Literal.create(r.get(0), dt)))
    case ex: org.apache.spark.sql.catalyst.expressions.Exists
        if ex.outerAttrs.isEmpty =>
      val any = !org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, ex.plan)
        .isEmpty
      org.apache.spark.sql.catalyst.expressions.Literal(any)
  }

  /** Assignment key → bare column name. Only top-level columns: graft's
    * update projection is name-keyed, so nested-field assignment targets
    * are refused loudly rather than silently rewriting the whole struct.
    */
  private def keyName(key: Expression, what: String): String = key match {
    case a: Attribute => a.name
    case other => throw new UnsupportedOperationException(
      s"graft $what supports top-level column assignment targets only, got: ${other.sql}")
  }

  /** Resolved expression → SQL text with attribute references re-qualified
    * by origin, parseable against graft's aliased merge frames. Subqueries
    * cannot round-trip through text — refuse them loudly (callers with
    * scalar subqueries go through [[DmlExprBox]], which substitutes
    * literals BEFORE rendering).
    */
  private[sql] def render(
      e: Expression,
      tgt: AttributeSet, tgtQualifier: Seq[String],
      src: AttributeSet, srcQualifier: Seq[String]): String = {
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      throw new UnsupportedOperationException(
        "graft row-level DML does not support subqueries in conditions or " +
          s"assignments — materialize the subquery into the MERGE source: ${e.sql}")
    e.transform {
      case a: AttributeReference if tgt.contains(a) =>
        UnresolvedAttribute(tgtQualifier :+ a.name)
      case a: AttributeReference if src.contains(a) =>
        UnresolvedAttribute(srcQualifier :+ a.name)
      // neither side: a schema-evolution column that exists only in the
      // merge's evolved output — leave bare for the downstream resolver
      case a: AttributeReference =>
        UnresolvedAttribute(Seq(a.name))
    }.sql
  }
}

/** Opaque holder (the same CheckAnalysis-dodging shape as [[DmlCondBox]])
  * for a RESOLVED DML fragment whose only subqueries are NON-correlated
  * scalars. `toSql` runs each subquery exactly once at command execution,
  * splices the results in as literals, and renders the now-subquery-free
  * fragment with origin-qualified references — so the downstream engines
  * (TableOps update projection, GraftMerge joins) never see a subquery.
  */
final class DmlExprBox(
    val expr: Expression,
    val tgt: Seq[Attribute], val tgtQualifier: Seq[String],
    val src: Seq[Attribute], val srcQualifier: Seq[String])
  extends Serializable {

  def toSql(spark: SparkSession): String =
    GraftRowLevelRewrite.render(
      GraftRowLevelRewrite.evalConstSubqueries(spark, expr),
      AttributeSet(tgt), tgtQualifier, AttributeSet(src), srcQualifier)

  /** True when the fragment holds a PER-ROW subquery — a correlated
    * scalar, or a set-valued IN/EXISTS predicate (correlated or not) — so
    * it cannot collapse to text ([[toSql]] only splices non-correlated
    * scalars; anything else would choke `render`) and must be evaluated
    * plan-level over the rewrite frame.
    */
  def needsPlanEval: Boolean =
    expr.collectFirst {
      case s: org.apache.spark.sql.catalyst.expressions.ScalarSubquery
          if s.outerAttrs.nonEmpty => ()
      case _: org.apache.spark.sql.catalyst.expressions.ListQuery => ()
      case _: org.apache.spark.sql.catalyst.expressions.Exists => ()
    }.isDefined
}

/** Native `MERGE INTO graft_cat.ns.t` converted by [[GraftRowLevelRewrite]]:
  * carries the resolved SOURCE plan directly (no text round-trip of a whole
  * query) plus re-rendered condition/clause fragments (scalar-subquery
  * fragments stay boxed until run), and executes through the same validated
  * builder path as graft's own MERGE SQL — one merge engine, one metrics
  * contract.
  */
case class GraftRowLevelMergeCommand(
    path: String,
    sourcePlan: LogicalPlan,
    condition: GraftRowLevelRewrite.SqlPart,
    clauses: Seq[MergeClauseSpec[GraftRowLevelRewrite.SqlPart]],
    schemaEvolution: Boolean)
  extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(sourcePlan)

  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("numTargetRowsUpdated", LongType, nullable = false)(),
    AttributeReference("numTargetRowsDeleted", LongType, nullable = false)(),
    AttributeReference("numTargetRowsInserted", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import graft.operators.BoundExpr
    val t = GraftSqlCommands.resolveTarget(spark, path)
    val source = org.apache.spark.sql.graft.SparkBridge.ofPlan(spark, sourcePlan)
    def sql(p: GraftRowLevelRewrite.SqlPart): String = p.fold(identity, _.toSql(spark))
    // clause fragments: text stays text (boxed NON-correlated scalars run
    // once and splice in as literals); a fragment with PER-ROW subqueries
    // (correlated scalars, IN/EXISTS predicates) rides the resolved
    // expression into the merge engine (BoundExpr.Resolved binds it onto
    // the joined frame at evaluation)
    def frag(p: GraftRowLevelRewrite.SqlPart): BoundExpr = p match {
      case Left(txt) => BoundExpr.Text(txt)
      case Right(box) =>
        if (box.needsPlanEval)
          BoundExpr.resolved(box.expr,
            box.tgt, GraftRowLevelRewrite.TgtAlias,
            box.src, GraftRowLevelRewrite.SrcAlias)
        else BoundExpr.Text(box.toSql(spark))
    }
    GraftMergeExec.run(t, GraftRowLevelRewrite.TgtAlias, source,
      Some(GraftRowLevelRewrite.SrcAlias), sql(condition), clauses.map(_.map(frag)),
      schemaEvolution)
  }
}
