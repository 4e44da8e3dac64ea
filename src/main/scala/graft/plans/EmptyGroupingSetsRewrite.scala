package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag

/** Standard-SQL semantics for grouping-set aggregates over EMPTY input
  * (round-15 differential-fuzzer finding, FUZZ_r15_sf01 f0068/f0137).
  *
  * SQL:2011 defines `GROUP BY GROUPING SETS (..., ())` as the UNION ALL
  * of the per-set aggregations, and a `GROUP BY ()` (grand total) over an
  * empty input yields ONE row — the aggregate functions' empty-input
  * values (MIN/MAX/SUM -> NULL, COUNT -> 0). DuckDB and PostgreSQL both
  * return that row; Spark's lowering (Expand replicates input rows per
  * grouping set, then groups by (cols..., spark_grouping_id)) produces
  * ZERO groups from zero rows, silently dropping every ()-set row. A
  * rollup/cube dashboard over a filtered-to-empty slice loses its total
  * line — the exact class a fixed-catalog test suite never hits, found
  * by the seeded fuzzer on its second sweep.
  *
  * Rewrite (post-hoc resolution, once per analysis): for an aggregate
  * over a grouping-set Expand whose projections contain k >= 1 empty
  * sets, emit
  *
  *   Union(agg, Project_1(guarded), ..., Project_k(guarded))
  *   guarded = Filter(cnt == 0,
  *     Aggregate(Nil, sharedAggFunctionSlots :+ count(1) AS cnt, child))
  *
  * ONE shared global aggregate computes every aggregate-function value
  * (plus the emptiness guard); the k per-set Projects then substitute
  * each empty set's grouping-id mask literal into the scalar shells (so
  * `grouping()`/`grouping_id()` fold to the right constants) and NULL
  * into the grouping columns. When the input is non-empty the guard
  * filters the fallback out (cnt > 0) and the plan behaves exactly as
  * before; when it is empty, each empty set contributes its standard
  * total row. COST: one extra global aggregate over the input subtree —
  * map-side-combined to a single row per partition — paid only by
  * queries that actually use rollup/cube/grouping-sets with a () set,
  * and paid ONCE regardless of how many duplicate empty sets the query
  * declares (round-15 ADVICE: the per-set-aggregate version re-executed
  * the child k times; the k Projects now share one guarded aggregate —
  * identical sibling subtrees additionally collapse to one execution via
  * exchange reuse). The corner where an aggregate FUNCTION itself
  * references the grouping id (e.g. `sum(grouping_id())` — set-DEPENDENT
  * aggregate input) keeps the per-set-aggregate shape, which is the only
  * correct one there.
  *
  * Guards: streaming aggregates are skipped (a Union of a streaming agg
  * with a filtered global agg is not a supported streaming plan);
  * idempotency is PER-AGGREGATE via a TreeNodeTag on the
  * rewritten node (round-15 ADVICE, medium: the previous plan-global
  * marker scan made the whole rule bail when ANY subtree had been
  * rewritten — a second rollup layered over an already-rewritten view
  * silently reverted to native empty-input semantics; the tag travels
  * with the node object, so only the node that was rewritten is skipped).
  */
object EmptyGroupingSetsRewrite extends Rule[LogicalPlan] {

  private val Marker = "__graft_empty_gs_cnt"
  private val GidName = "spark_grouping_id"
  // Spark's internal disambiguator for DUPLICATE grouping sets: an extra
  // grouping column holding the set's ordinal as a literal, so identical
  // sets form distinct groups. Set-dependent like the gid — substituted
  // per set, never null-checked.
  private val PosName = "_gen_grouping_pos"
  private val RewrittenTag = TreeNodeTag[Boolean]("graft.emptyGroupingSets.rewritten")

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformUp {
      case agg @ Aggregate(gExprs, _, expand: Expand, _)
          if gExprs.nonEmpty && !agg.isStreaming &&
            agg.getTagValue(RewrittenTag).isEmpty =>
        rewrite(agg, expand).map { u =>
          agg.setTagValue(RewrittenTag, true)
          u
        }.getOrElse(agg)
    }

  private def rewrite(agg: Aggregate, expand: Expand): Option[LogicalPlan] = {
    // only the analyzer-lowered grouping-sets shape: every grouping
    // expression is an attribute and one of them is the grouping id
    val gAttrs = agg.groupingExpressions.collect { case a: AttributeReference => a }
    if (gAttrs.size != agg.groupingExpressions.size) return None
    val gid = gAttrs.find(_.name == GidName).getOrElse(return None)
    // set-dependent internal columns: the gid plus (for duplicate sets)
    // the _gen_grouping_pos ordinal — both carry a per-set literal in the
    // Expand projections and are substituted per set, not nulled
    val perSetCols = gid +: gAttrs.filter(a =>
      a.name == PosName && a.exprId != gid.exprId)
    val perSetIds = perSetCols.map(_.exprId).toSet
    val userCols = gAttrs.filterNot(a => perSetIds.contains(a.exprId))
    if (userCols.isEmpty) return None
    val out = expand.output
    val perSetPos = perSetCols.map(c => out.indexWhere(_.exprId == c.exprId))
    val colPos = userCols.map(c => out.indexWhere(_.exprId == c.exprId))
    if (perSetPos.exists(_ < 0) || colPos.exists(_ < 0)) return None
    // the ()-set replicas: a null literal at every USER grouping position
    // (null-ness, not mask arithmetic, so the detection is convention-free)
    // AND a literal at the set-dependent positions (true by construction)
    val emptySets = expand.projections.filter { p =>
      colPos.forall(i => p(i) match {
        case Literal(null, _) => true
        case _ => false
      }) && perSetPos.forall(i => p(i).isInstanceOf[Literal])
    }
    if (emptySets.isEmpty) return None
    val child = expand.child
    val nullSubst: Map[ExprId, Expression] = userCols.map(c =>
      c.exprId -> (Literal.create(null, c.dataType): Expression)).toMap
    // per-set substitution for one empty-set projection p
    def setSubst(p: Seq[Expression]): Map[ExprId, Expression] =
      perSetCols.zip(perSetPos).map { case (c, i) => c.exprId -> p(i) }.toMap
    // set-DEPENDENT aggregate inputs (gid/pos under an aggregate function,
    // e.g. sum(grouping_id())): the shared-slot split is unsound there —
    // keep the per-set full-aggregate shape for that corner
    val setDepInsideAgg = agg.aggregateExpressions.exists(ne =>
      ne.collect { case ae: AggregateExpression => ae }
        .exists(_.references.exists(a => perSetIds.contains(a.exprId))))
    val fallbacks: Seq[LogicalPlan] =
      if (setDepInsideAgg)
        perSetFallbacks(agg, emptySets, setSubst, nullSubst, child)
      else sharedFallbacks(agg, emptySets, setSubst, perSetIds, nullSubst, child)
    Some(Union(agg +: fallbacks))
  }

  /** One shared guarded global aggregate; k cheap Projects substitute each
    * empty set's gid mask (and duplicate-set ordinal) into the scalar
    * shells. */
  private def sharedFallbacks(agg: Aggregate, emptySets: Seq[Seq[Expression]],
                              setSubst: Seq[Expression] => Map[ExprId, Expression],
                              perSetIds: Set[ExprId],
                              nullSubst: Map[ExprId, Expression],
                              child: LogicalPlan): Seq[LogicalPlan] = {
    val slots = scala.collection.mutable.ArrayBuffer[NamedExpression]()
    // per output column: (name, scalar shell over slot attrs + gid attr)
    val shells: Seq[(String, Expression)] = agg.aggregateExpressions.map { ne =>
      val substituted = ne.transform {
        case a: AttributeReference if nullSubst.contains(a.exprId) => nullSubst(a.exprId)
      }
      val core = substituted match {
        case al: Alias => al.child
        case other => other
      }
      val slotted = core.transform {
        case ae: AggregateExpression =>
          val slot = Alias(ae, s"__graft_egs_slot_${slots.size}")()
          slots += slot
          slot.toAttribute
      }
      (ne.name, slotted)
    }
    val cnt = Alias(Count(Literal(1)).toAggregateExpression(), Marker)()
    val fbAgg = Aggregate(Nil, (slots :+ cnt).toSeq, child)
    val guarded = Filter(EqualTo(cnt.toAttribute, Literal(0L)), fbAgg)
    emptySets.map { p =>
      val subst = setSubst(p)
      // fresh Alias per branch: Union children must not share output exprIds
      val perSet: Seq[NamedExpression] = shells.map { case (name, shell) =>
        Alias(shell.transform {
          case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
        }, name)()
      }
      Project(perSet, guarded)
    }
  }

  /** The original per-set full-aggregate shape — required when aggregate
    * inputs are set-dependent (gid/pos under an aggregate function). */
  private def perSetFallbacks(agg: Aggregate, emptySets: Seq[Seq[Expression]],
                              setSubst: Seq[Expression] => Map[ExprId, Expression],
                              nullSubst: Map[ExprId, Expression],
                              child: LogicalPlan): Seq[LogicalPlan] = {
    emptySets.map { p =>
      val subst: Map[ExprId, Expression] = nullSubst ++ setSubst(p)
      val fbExprs: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
        val substituted = ne.transform {
          case a: AttributeReference if subst.contains(a.exprId) => subst(a.exprId)
        }
        val core = substituted match {
          case al: Alias => al.child
          case other => other
        }
        Alias(core, ne.name)()
      }
      val cnt = Alias(Count(Literal(1)).toAggregateExpression(), Marker)()
      val fbAgg = Aggregate(Nil, fbExprs :+ cnt, child)
      val guarded = Filter(EqualTo(cnt.toAttribute, Literal(0L)), fbAgg)
      Project(fbExprs.map(_.toAttribute), guarded)
    }
  }
}
