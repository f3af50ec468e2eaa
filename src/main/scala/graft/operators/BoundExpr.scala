package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, ExprId, Expression, OuterReference, PlanExpression, SubqueryExpression}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.graft.SparkBridge

/** A row-level condition or assignment value, bound onto the frame that
  * evaluates it — DELETE / UPDATE / replaceWhere conditions and SET values
  * ([[TableOps]]), MERGE clause conditions and UPDATE / INSERT values
  * ([[GraftMerge]]). Either SQL TEXT (graft's own surface, resolved by the
  * analyzer against the frame), or a RESOLVED catalyst expression captured
  * from Spark-native DML whose subqueries cannot round-trip through text
  * ([[BoundExpr.Resolved]] — Delta's route too: its commands keep the
  * resolved expression, never re-render it).
  */
sealed trait BoundExpr {
  /** The expression bound over `df`. */
  def column(df: DataFrame): Column
  /** Human-readable form for operation parameters. */
  private[graft] def display: String
  /** Predicate text for stats/bloom FILE SKIPPING — for resolved
    * expressions only the subquery-free conjuncts (pruning must stay
    * conservative; dropping a conjunct can only widen the candidate set).
    */
  private[graft] def skippingText: String
}

object BoundExpr {

  final case class Text(sql: String) extends BoundExpr {
    def column(df: DataFrame): Column = expr(sql)
    private[graft] def display: String = sql
    private[graft] def skippingText: String = sql
  }

  /** A resolved expression carrying subqueries — non-correlated, or per-row
    * (correlated scalars, IN/EXISTS predicates). Each attribute it may
    * reference is listed in `attrs` with an optional side alias; at
    * evaluation every reference, including the OuterReference wrappers
    * inside correlated subplans, rebinds onto the frame by ATTRIBUTE, not by
    * name string (`df("a.b")` would parse as struct access):
    *  - no alias (DML over the table's own columns): the first frame
    *    attribute with that name;
    *  - an alias (a MERGE side): the frame attribute of that name qualified
    *    by the alias, otherwise the only attribute of that name.
    * Spark's own decorrelation then plans each correlated subquery as an
    * outer/semi/anti join over the frame.
    */
  final class Resolved private[graft] (
      e: Expression, attrs: Seq[(Attribute, Option[String])]) extends BoundExpr {

    private val byId: Map[ExprId, (String, Option[String])] =
      attrs.map { case (a, alias) => a.exprId -> (a.name, alias) }.toMap

    /** The expression with every subquery pinned to ONE evaluation state:
      * the expression is evaluated in two jobs (touched-file scan or clause
      * dispositions, then the rewrite frame), and a live re-evaluation could
      * see a concurrent commit to a SUBQUERY's source tables in between.
      * A non-correlated subquery is materialized once (localCheckpoint); a
      * correlated one stays a live plan with its graft sources pinned to
      * their statement-start snapshots — the shared discipline of
      * [[graft.sources.GraftSourcePin.pinSubqueries]]. The target side is
      * already snapshot-pinned.
      */
    @volatile private var stable: Expression = null
    private def stableExpr(spark: SparkSession): Expression = {
      val s0 = stable
      if (s0 != null) s0
      else {
        val pinned = graft.sources.GraftSourcePin.pinSubqueries(spark, e)
        stable = pinned
        pinned
      }
    }

    def column(df: DataFrame): Column = {
      val out = df.queryExecution.analyzed.output
      def rebound(a: AttributeReference): Attribute = byId(a.exprId) match {
        case (name, None) =>
          out.find(_.name == name).getOrElse(throw new IllegalStateException(
            s"DML condition column '$name' not found in the evaluation frame " +
              s"(${out.map(_.name).mkString(", ")})"))
        case (name, Some(alias)) =>
          out.find(o => o.name == name && o.qualifier.lastOption.contains(alias))
            .orElse(out.filter(_.name == name) match {
              case scala.collection.Seq(only) => Some(only)
              case _ => None
            })
            .getOrElse(throw new IllegalStateException(
              s"MERGE clause column '$alias.$name' not found in the evaluation " +
                s"frame (${out.map(o => (o.qualifier :+ o.name).mkString(".")).mkString(", ")})"))
      }
      SparkBridge.column(stableExpr(df.sparkSession).transform {
        case sub: SubqueryExpression if sub.isCorrelated =>
          sub.withNewPlan(sub.plan.transformAllExpressions {
            case OuterReference(a: AttributeReference) if byId.contains(a.exprId) =>
              OuterReference(rebound(a))
          })
        case a: AttributeReference if byId.contains(a.exprId) => rebound(a)
      })
    }

    private[graft] def display: String =
      // subqueries render as opaque placeholders in Expression.sql — keep
      // the history entry at least self-describing
      e.sql.replace("listquery()", "<in-subquery>")
        .replace("scalarsubquery()", "<scalar-subquery>")

    private[graft] def skippingText: String = {
      val parts = graft.tables.FileSkipping.splitConjuncts(e)
        .filterNot(_.exists(_.isInstanceOf[PlanExpression[_]]))
        .map(_.transform {
          case a: AttributeReference =>
            org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(Seq(a.name))
        }.sql)
      if (parts.isEmpty) "true" else parts.mkString(" AND ")
    }
  }

  /** A resolved DML expression over the table's own columns. */
  private[graft] def resolved(e: Expression, tableOutput: Seq[Attribute]): Resolved =
    new Resolved(e, tableOutput.map(_ -> None))

  /** A resolved MERGE fragment over the target's and the source's columns,
    * each side rebinding onto the frame attributes its alias qualifies.
    */
  private[graft] def resolved(
      e: Expression,
      tgt: Seq[Attribute], tgtAlias: String,
      src: Seq[Attribute], srcAlias: String): Resolved =
    new Resolved(e, tgt.map(_ -> Some(tgtAlias)) ++ src.map(_ -> Some(srcAlias)))
}
