package graft.plans

import org.apache.spark.sql.catalyst.analysis.{TempResolvedColumn, UnresolvedHaving}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.ByteType

/** Standard-SQL resolution for `grouping()` / `grouping_id()` in HAVING
  * when the SELECT list aliases the grouping columns away (round-16
  * differential-fuzzer finding, FUZZ_r16_sf01 f0151/f0154).
  *
  * `SELECT k AS c0, count(*) AS c1 FROM t GROUP BY CUBE(k) HAVING
  * grouping(k) = 1` is valid SQL:2011 — the HAVING scope is the grouping
  * columns, independent of output aliases — and DuckDB and PostgreSQL
  * both accept it. Spark resolves it ONLY when the select list exposes
  * the column under its own name: with `k AS c0`, resolution of the
  * HAVING's `grouping(k)` argument falls through to the output aliases
  * and fails with UNRESOLVED_COLUMN suggesting [c0, c1] (same for
  * qualified `t0.k`, same for `grouping_id(...)` with arguments;
  * `grouping_id()` with no arguments and filters on a SELECTed grouping
  * alias are unaffected).
  *
  * The rewrite runs in the resolution fixed point AFTER Spark's
  * ResolveGroupingAnalytics has lowered the aggregate to the
  * Aggregate-over-Expand shape (the gid column and per-set projections
  * exist) and after Spark's own HAVING machinery has resolved the
  * grouping function's argument against the aggregate's child as
  * `TempResolvedColumn(<original input attr>)` — the exact point where
  * native resolution gets STUCK (ResolveGroupingAnalytics only replaces
  * grouping functions whose argument matches the post-Expand grouping
  * attributes, and with an aliased select list the original attr never
  * does; the TempResolvedColumn is then flagged hasTried and
  * CheckAnalysis errors with the original name). Each stuck
  * `Grouping(TempResolvedColumn(a))` maps to its grouping position i via
  * the group-by aliases of the Project below the Expand, and becomes the
  * exact arithmetic Spark itself uses for the SELECT-side grouping():
  * `CAST((gid >> (n-1-i)) & 1 AS TINYINT)`. A `grouping_id(c1..cn)` whose arguments match the full
  * group-by list in order becomes the gid attribute itself (mirroring
  * Spark's own full-match requirement). The resulting condition
  * references only the gid — an attribute of the aggregate's child —
  * which Spark's normal HAVING machinery then pushes through the
  * aggregate like any other non-output reference. Anything the rule
  * cannot FULLY map (expression arguments, partial grouping_id lists) is
  * left untouched for native resolution (and its native error).
  */
object GroupingInHavingRewrite extends Rule[LogicalPlan] {

  private val GidName = "spark_grouping_id"

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case h @ UnresolvedHaving(cond,
          agg @ Aggregate(gExprs, _, expand: Expand, _))
          if gExprs.nonEmpty && hasUnresolvedGroupingFn(cond) =>
        rewrite(cond, agg, expand).map(c => h.copy(havingCondition = c))
          .getOrElse(h)
    }

  /** Unwrap the stuck form: a grouping-function argument Spark resolved
    * to `TempResolvedColumn(<original input attribute>)`. */
  private def tempArg(e: Expression): Option[AttributeReference] = e match {
    case t: TempResolvedColumn => t.child match {
      case a: AttributeReference => Some(a)
      case _ => None
    }
    case _ => None
  }

  private def hasUnresolvedGroupingFn(cond: Expression): Boolean =
    cond.exists {
      case Grouping(t) => tempArg(t).isDefined
      case g: GroupingID => g.groupByExprs.nonEmpty &&
        g.groupByExprs.forall(a => tempArg(a).isDefined)
      case _ => false
    }

  private def rewrite(cond: Expression, agg: Aggregate,
                      expand: Expand): Option[Expression] = {
    val gAttrs = agg.groupingExpressions.collect { case a: AttributeReference => a }
    if (gAttrs.size != agg.groupingExpressions.size) return None
    val gid = gAttrs.find(_.name == GidName).getOrElse(return None)
    // the lowered shape puts Project(childOutput ++ groupByAliases) below
    // the Expand; the aliases are the user group-by expressions IN ORDER
    // — the same order the gid bits use
    val proj = expand.child match {
      case p: Project => p
      case _ => return None
    }
    val groupAliases = proj.projectList.collect { case a: Alias => a }
    if (groupAliases.isEmpty) return None
    val n = groupAliases.size

    // the TempResolvedColumn wraps the ORIGINAL input attribute (Spark
    // resolved it against the aggregate's child already); its grouping
    // position is wherever the Project's group-by aliases reference it
    def positionOf(a: AttributeReference): Option[Int] = {
      val idx = groupAliases.indexWhere(_.child semanticEquals a)
      if (idx < 0) None else Some(idx)
    }

    def groupingBit(i: Int): Expression =
      Cast(BitwiseAnd(ShiftRight(gid, Literal(n - 1 - i)), Literal(1L)),
        ByteType)

    var allMapped = true
    val newCond = cond.transformUp {
      case g @ Grouping(t) if tempArg(t).isDefined =>
        tempArg(t).flatMap(positionOf) match {
          case Some(i) => groupingBit(i)
          case None => allMapped = false; g
        }
      case g: GroupingID if g.groupByExprs.nonEmpty &&
          g.groupByExprs.forall(a => tempArg(a).isDefined) =>
        val idxs = g.groupByExprs.map(a => tempArg(a).flatMap(positionOf))
        // Spark's own contract: grouping_id arguments must be the FULL
        // group-by list in order — then grouping_id() IS the gid
        if (idxs.size == n && idxs.flatten == (0 until n)) gid
        else { allMapped = false; g }
    }
    if (allMapped) Some(newCond) else None
  }
}
