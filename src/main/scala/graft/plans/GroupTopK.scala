package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Whole-operator top-k-per-group as a first-class plan node
  * (SURVEY.md §2 row O6 scale path; the (c) tier of the custom-operator
  * preference order: LogicalPlan + Strategy + SparkPlan via
  * SparkSessionExtensions).
  *
  * Why a physical operator instead of the row_number window: the window
  * form must SORT every group completely (one big in-partition sort of
  * the whole dataset) before discarding all but k rows. This node keeps a
  * bounded k-row heap per group on the map side, so the exchange carries
  * O(partitions * groups * k) rows instead of the full input when group
  * cardinality is modest.
  *
  * Determinism contract: `sortOrder` must be a total order (include a
  * unique tiebreak column) or the k-th place is arbitrary among ties —
  * same caveat as any top-k.
  *
  * Memory contract (both phases bounded): the partial phase caps its
  * group map at [[GroupTopKStrategy.MaxPartialGroups]] entries; once at
  * capacity, rows of unseen groups PASS THROUGH to the
  * exchange unmodified — correct by construction, since the final phase
  * re-selects, and exactly Spark's partial-hash-agg fallback shape. The
  * final phase holds O(1) state: it demands child ordering on
  * (groupExprs, sortOrder), so EnsureRequirements plants a spillable
  * SortExec over the (usually k-bounded) exchange output and the final
  * pass is a streaming first-k-per-group scan. Degenerate inputs with
  * near-unique keys (e.g. dedupFirst on md5(text)) therefore degrade to
  * the sort-window plan's spill behavior instead of an unbounded map.
  * A bonus at the plan level: the final node emits sorted output, so a
  * Window re-deriving row_number above it (WindowTopKRewrite) needs no
  * second sort.
  */
case class GroupTopK(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"GroupTopK needs k > 0, got $k")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopK =
    copy(child = newChild)
}

/** Plans GroupTopK as partial-then-final execs; EnsureRequirements inserts
  * the hash exchange demanded by the final node's required distribution
  * and the spillable sort demanded by its required ordering. */
object GroupTopKStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  /** Groups the partial phase keeps per task before passing rows through. */
  val MaxPartialGroups = 262144

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GroupTopK =>
      GroupTopKExec(g.groupExprs, g.sortOrder, g.k, partial = false, MaxPartialGroups,
        GroupTopKExec(g.groupExprs, g.sortOrder, g.k, partial = true, MaxPartialGroups,
          planLater(g.child))) :: Nil
    case _ => Nil
  }
}

/** Top-k per group in two phases. Partial: bounded per-group heaps with
  * pass-through overflow (top-k of per-partition top-k's is the global
  * top-k, and passing a row through is always safe — the final phase
  * re-selects). Final: streaming first-k scan over input sorted on
  * (group, order) — O(1) task memory, spill delegated to the SortExec
  * that `requiredChildOrdering` summons. */
case class GroupTopKExec(
    groupExprs: Seq[Expression],
    sortOrder: Seq[SortOrder],
    k: Int,
    partial: Boolean,
    maxPartialGroups: Int,
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    if (partial) Nil else child.outputOrdering

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil
    else if (groupExprs.isEmpty) AllTuples :: Nil
    else ClusteredDistribution(groupExprs) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    if (partial) Seq(Nil)
    else Seq(groupExprs.map(SortOrder(_, Ascending)) ++ sortOrder)

  override lazy val metrics: Map[String, SQLMetric] =
    if (partial) Map("passThroughRows" -> SQLMetrics.createMetric(sparkContext,
      "rows passed through (partial map at capacity)"))
    else Map.empty

  override protected def doExecute(): RDD[InternalRow] =
    if (partial) doExecutePartial() else doExecuteFinal()

  private def doExecutePartial(): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val kk = k
    val maxGroups = maxPartialGroups
    val passThrough = longMetric("passThroughRows")
    // generated comparator over the sort order; "top-k" = the k smallest
    // rows under it (a DESC order is expressed inside the SortOrder)
    val ord = new LazilyGeneratedOrdering(sortOrder, childOutput)
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gExprs, childOutput)
      val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[InternalRow]]()
      // reversed ordering => heap head is the WORST retained row
      val worstFirst: java.util.Comparator[InternalRow] = ord.reverse
      val inline = iter.flatMap { row =>
        val key = keyProj(row)
        var heap = heaps.get(key)
        if (heap == null && heaps.size() < maxGroups) {
          heap = new java.util.PriorityQueue[InternalRow](kk + 1, worstFirst)
          heaps.put(key.copy(), heap)
        }
        if (heap == null) {
          // map at capacity and this group unseen: defer to the final phase
          passThrough += 1
          Iterator.single(row)
        } else {
          if (heap.size < kk) heap.offer(row.copy())
          else if (ord.compare(row, heap.peek()) < 0) {
            // beats the current worst: admit, evict (copy only on admit)
            heap.poll()
            heap.offer(row.copy())
          }
          Iterator.empty
        }
      }
      import scala.jdk.CollectionConverters._
      // ++ is by-name: heap contents drain only after the input is consumed
      inline ++ heaps.values().iterator().asScala.flatMap(_.iterator().asScala)
    }
  }

  private def doExecuteFinal(): RDD[InternalRow] = {
    val childOutput = child.output
    val gExprs = groupExprs
    val kk = k
    child.execute().mapPartitions { iter =>
      val keyProj = UnsafeProjection.create(gExprs, childOutput)
      var prevKey: UnsafeRow = null
      var taken = 0
      iter.filter { row =>
        val key = keyProj(row)
        if (prevKey == null || key != prevKey) {
          prevKey = key.copy()
          taken = 0
        }
        taken += 1
        taken <= kk
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)
}
