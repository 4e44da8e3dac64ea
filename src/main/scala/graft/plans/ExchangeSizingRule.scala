package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, BroadcastDistribution, Distribution, HashPartitioning, Partitioning, RangePartitioning, UnspecifiedDistribution}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL, ShuffleExchangeExec, ShuffleOrigin}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StringType, StructType}

/** Bytes-aware exchange sizing: derive each shuffle's partition count from
  * the estimated bytes ENTERING it, instead of holding one global
  * `spark.sql.shuffle.partitions` across operators whose per-task working
  * sets differ by orders of magnitude.
  *
  * WHY (the round-15 sf10 experiment, `BENCH_sf10.json:
  * partition_sizing_experiment_r15`): at 100x the gate scale the iterative
  * graph family spilled catastrophically under the 32-partition protocol —
  * d28_kcore 130.7s with 861 GB cumulative memory spill — because each peel
  * round's per-task sort state is working-set/partitions, and 32 partitions
  * of 120M mirrored edges do not fit the pooled execution budget. The same
  * binary at 256 partitions: 33.6s, ~8 GB spill. Meanwhile d27's exact
  * set-similarity verify join PREFERS 32 (96.2s vs 154-172s at 256): its
  * exchanges carry shingle ARRAYS into an in-memory hash join, where more
  * partitions only multiply per-task fixed costs (hash-slice builds,
  * columnar scans, scheduling waves). One global knob cannot serve both;
  * the right count is a function of the bytes and the ROW SHAPE entering
  * each exchange — which the plan knows.
  *
  * WHAT: an AQE query-stage-prep rule (runs right after EnsureRequirements,
  * and again on every AQE re-optimization, where materialized stages carry
  * runtime stats). For each eligible `ShuffleExchangeExec` it estimates the
  * input bytes from the child's Catalyst statistics, converts to an
  * in-memory working-set estimate via a schema-aware expansion factor, and
  * rounds UP to the next whole-scheduling-wave partition count (multiple
  * of the session parallelism) that keeps the per-task working set under
  * `targetTaskBytes` — never below the session default, never above
  * `maxWaves` full waves. AQE's post-shuffle coalescing then
  * trims over-estimates per stage (upscaling is a ceiling, coalesce is the
  * floor — the two compose; this is exactly the measured
  * `initialPartitionNum=256` arm of the r15 experiment, applied per
  * exchange instead of per session).
  *
  * ELIGIBILITY (what the rule will NEVER touch):
  *  - only ENSURE_REQUIREMENTS / REPARTITION_BY_COL origins — counts the
  *    engine filled in from the session default. `repartition(n, ...)` /
  *    `repartitionByRange(n, ...)` (REPARTITION_BY_NUM) are user choices.
  *  - never an exchange whose parent distribution pins an exact partition
  *    count (`Distribution.requiredNumPartitions` — stateful streaming
  *    operators pin their state-store layout this way).
  *  - never an exchange whose rows carry ARRAY/MAP columns (d27's shingle
  *    streams and every collect_list partial-aggregation buffer): columnar
  *    -> row expansion estimates are unreliable for nested payloads, and
  *    the measured preference of the only such hot family is FEWER, larger
  *    tasks.
  *  - co-partitioned join sides are resized TOGETHER to one count, and only
  *    when BOTH sides are eligible exchanges; if either side's partitioning
  *    is dictated by something else (a cached relation's layout, a
  *    materialized query stage), the whole group is left alone. A subtree
  *    whose output partitioning feeds such a group is FROZEN on the way
  *    down, so a deeper exchange can never break co-partitioning from
  *    below (an exchange resets the freeze for its own child — its shuffle
  *    masks everything beneath it).
  *  - estimates above `maxTrustedBytes` are treated as absent, not huge:
  *    they come from `defaultSizeInBytes` sentinels (stats-less DSv2
  *    sources) or multiplicative join-output estimates, and a garbage
  *    estimate must fail closed (keep the default), not open (explode the
  *    partition count). Join blow-up is additionally capped at the sum
  *    of the subtree's LEAF estimates — a shuffle's input is linear in
  *    what was read (FK equi joins), not the Cartesian product
  *    Catalyst's size-only visitor multiplies out; a genuinely
  *    expanding join is underestimated, which degrades to the
  *    pre-rule behavior, never past it.
  *
  * CALIBRATION: Catalyst's sizeInBytes for parquet/cached leaves is
  * COMPRESSED bytes, while the operational quantity is the per-task
  * UnsafeRow sort/hash footprint — and the GAP depends on where the
  * estimate came from (measured r16, same 120M-edge stream at sf10:
  * parquet-scaled first plan 547 MB, materialized columnar cache 1.46 GB,
  * true working set ~4.8 GB). So: only ALL-FIXED-WIDTH row schemas (the
  * graph/edge shape, where the gap is largest and the r15 win was
  * measured) may INITIATE an upscale; the expansion factor is
  * `fileExpansion` (24) for file-scaled estimates and `runtimeExpansion`
  * (12) when the subtree contains materialized bytes (columnar cache /
  * completed stage); string-bearing rows never initiate (upscaling d27's
  * token-keyed string exchanges to 64-256 was measured at +30% median and
  * fresh spill, r16) but may follow a fixed-width sibling in a
  * co-partition group. An ACTIVATION band keeps the rule from chasing
  * theoretical ideals: if the working set already fits at the current
  * count (<= `activationTaskBytes`/task), nothing moves — at sf1 the
  * whole graph family fits at the session default, and upscaling it was
  * measured as pure task-overhead regression (d28 11.5 -> 18.8s, r16).
  * The wave cap and expansions were RE-calibrated on the regenerated
  * (key-fold-fixed) sf10 corpus, whose edge working set is the honest
  * 10x of sf1: the static surface there reads 256 -> 195s, 512 -> 138s,
  * 1024 -> 161s for d28 (2-run arms, artifact-stamped), so the cap is 16
  * waves (512 on local[32]) and the formula's targets land at 416 (file
  * flavor) / 480-512 (runtime flavor) — inside the measured-optimal
  * band, where the earlier 8-wave cap (calibrated against the folded
  * corpus, which understated the true working set 10x) clipped them to a
  * spilling 256. Every sf0.1 and sf1 protocol exchange still stays at
  * the session default (flat protocol numbers, certified by the r16
  * bench artifacts). Pinned by ExchangeSizingSpec on the exact logged
  * estimates.
  *
  * At 100 TB this policy is the difference between "completes by spilling"
  * and "plans correctly": the reference's bounded-memory north star
  * (`/root/reference/README.md:9-10`, automated batching to protect peak
  * memory) re-expressed as Spark partitioning derived from plan
  * statistics. Opt out: `spark.graft.sizing.enabled=false`; decision log
  * on stderr: `spark.graft.sizing.log=true`. The calibration constants
  * come in through `params` (GraftExtensions uses the defaults).
  */
class ExchangeSizingRule(session: SparkSession,
                         val params: ExchangeSizing.Params = ExchangeSizing.Params())
    extends Rule[SparkPlan] {
  import ExchangeSizing._

  override def apply(plan: SparkPlan): SparkPlan = {
    val c = session.sessionState.conf
    if (!c.getConfString("spark.graft.sizing.enabled", "true").toBoolean) plan
    else walk(plan, frozen = false,
      log = c.getConfString("spark.graft.sizing.log", "false").toBoolean)
  }

  private def walk(p: SparkPlan, frozen: Boolean, log: Boolean): SparkPlan = p match {
    case ex: ShuffleExchangeExec =>
      // the exchange re-partitions whatever is beneath it, so its child
      // subtree is free regardless of constraints from above
      val newChild = walk(ex.child, frozen = false, log)
      val ex2 =
        if (newChild eq ex.child) ex
        else ex.withNewChildren(Seq(newChild)).asInstanceOf[ShuffleExchangeExec]
      if (frozen) ex2
      else resized(ex2, log).getOrElse(ex2)
    case _ =>
      val dists = p.requiredChildDistribution
      val clusteredIdx = dists.zipWithIndex.collect {
        case (d, i) if isPartitionConstraining(d) => i
      }
      // >= 2 partition-constraining children = a co-partition group (SMJ /
      // SHJ sides, cogroup): members must keep EQUAL partition counts.
      if (clusteredIdx.size >= 2) {
        val members = clusteredIdx.map(p.children)
        // each member's partition DEFINER: the exchange under any
        // EnsureRequirements-inserted sorts (SMJ members are
        // Sort(Exchange); SHJ members are bare exchanges)
        val definers = members.map(partitionDefiner)
        val resizable = !frozen &&
          clusteredIdx.forall(i => dists(i).requiredNumPartitions.isEmpty) &&
          definers.forall {
            case ex: ShuffleExchangeExec => eligibleOrigin(ex.shuffleOrigin)
            case _ => false
          } &&
          members.map(_.outputPartitioning.numPartitions).distinct.size == 1
        val newChildren: Seq[SparkPlan] =
          if (resizable) {
            val exs = definers.map(_.asInstanceOf[ShuffleExchangeExec])
            // one common count: the max of the members' own targets (a
            // group is only as healthy as its biggest side). A member
            // failing a GATE (arrays, untrusted estimate) vetoes the
            // group so both sides stay put together; a member that merely
            // doesn't NEED more partitions (tiny side of a join) follows
            // the bigger sibling — resizing a small side up is harmless,
            // and the big side is the one spilling.
            val targets = exs.map(e => decide(e, log))
            val common =
              if (targets.contains(ExchangeSizing.Veto)) None
              else targets.collect { case ExchangeSizing.Up(n) => n }
                .reduceOption(math.max)
            p.children.zipWithIndex.map { case (c, i) =>
              if (!clusteredIdx.contains(i)) walk(c, frozen, log)
              else rebuildMember(c, common, log)
            }
          } else {
            // group pinned from outside (cached layout, materialized
            // stage, stateful requirement): everything that could define
            // a member's partitioning is frozen below this node
            p.children.zipWithIndex.map { case (c, i) =>
              walk(c, frozen = frozen || clusteredIdx.contains(i), log)
            }
          }
        if (newChildren.zip(p.children).forall { case (a, b) => a eq b }) p
        else p.withNewChildren(newChildren)
      } else {
        // solo constraint (aggregate / sort / window child) or none:
        // children resize independently; a solo pinned count still freezes
        val newChildren = p.children.zipWithIndex.map { case (c, i) =>
          val pinned = i < dists.size && dists(i).requiredNumPartitions.isDefined
          walk(c, frozen = frozen || pinned, log)
        }
        if (newChildren.zip(p.children).forall { case (a, b) => a eq b }) p
        else p.withNewChildren(newChildren)
      }
  }

  /** The node that defines a join member's partitioning: peel the sorts
    * EnsureRequirements inserts above the exchange (SortExec preserves its
    * child's partitioning). */
  private def partitionDefiner(p: SparkPlan): SparkPlan = p match {
    case s: org.apache.spark.sql.execution.SortExec => partitionDefiner(s.child)
    case other => other
  }

  /** Rebuild one co-partition-group member with its definer exchange
    * resized to the group's common count (recursing below the exchange,
    * which is un-frozen by its own shuffle). */
  private def rebuildMember(member: SparkPlan, common: Option[Int],
                            log: Boolean): SparkPlan = member match {
    case ex: ShuffleExchangeExec =>
      val inner = walk(ex.child, frozen = false, log)
      val base =
        if (inner eq ex.child) ex
        else ex.withNewChildren(Seq(inner)).asInstanceOf[ShuffleExchangeExec]
      common.flatMap(n => withCount(base, n)).getOrElse(base)
    case s: org.apache.spark.sql.execution.SortExec =>
      val newChild = rebuildMember(s.child, common, log)
      if (newChild eq s.child) s else s.withNewChildren(Seq(newChild))
    case other => other // unreachable when resizable held
  }

  /** Resize a standalone eligible exchange (not part of a join group). */
  private def resized(ex: ShuffleExchangeExec, log: Boolean): Option[SparkPlan] =
    if (!eligibleOrigin(ex.shuffleOrigin)) None
    else decide(ex, log) match {
      case Up(n) => withCount(ex, n)
      case _ => None
    }

  /** The sizing decision for one exchange. */
  private def decide(ex: ShuffleExchangeExec, log: Boolean): Decision = {
    val schema = ex.child.schema
    val current = ex.outputPartitioning.numPartitions
    val est = estimateBytes(ex.child, log)
    val runtime = hasRuntimeStats(ex.child)
    val d = est.map(b => targetCount(b, schema, current,
      session.sparkContext.defaultParallelism, runtime, params)).getOrElse(Veto)
    if (log) {
      val leaves = ex.child.collectLeaves().map(l =>
        s"${l.getClass.getSimpleName}:" +
          l.logicalLink.map(_.stats.sizeInBytes.toString).getOrElse("n/a"))
        .mkString(",")
      System.err.println(s"[graft-sizing] ${ex.nodeName} origin=${ex.shuffleOrigin} " +
        s"current=$current est=${est.map(_.toString).getOrElse("n/a")} " +
        s"wide=${hasWideColumns(schema)} fixed=${allFixedWidth(schema)} " +
        s"runtime=$runtime leaves=$leaves -> $d")
    }
    d match { case _: Up => ExchangeSizing.upCount.incrementAndGet(); case _ => }
    d
  }

  /** Does the estimate derive from MATERIALIZED bytes (columnar cache /
    * completed query stage) rather than parquet-file scaling? The two
    * flavors sit 3-10x apart for the same data (see targetCount). */
  private def hasRuntimeStats(child: SparkPlan): Boolean =
    child.exists {
      case _: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => true
      case _: org.apache.spark.sql.execution.adaptive.QueryStageExec => true
      case _ => false
    }

  private def withCount(ex: ShuffleExchangeExec, n: Int): Option[SparkPlan] = {
    if (n <= ex.outputPartitioning.numPartitions) None
    else repartitioned(ex.outputPartitioning, n).map { newPart =>
      ShuffleExchangeExec(newPart, ex.child, ex.shuffleOrigin,
        ex.advisoryPartitionSize)
    }
  }

  /** Bytes entering the exchange: the child's Catalyst estimate, capped at
    * the subtree's summed LEAF estimates (join-output estimates are
    * multiplicative and unusable raw; the engine's joins are FK equi
    * joins whose output is bounded by the fact side, so the leaf sum is
    * the honest magnitude — a genuinely expanding join is underestimated,
    * which fails CONSERVATIVE: the exchange keeps its default count, i.e.
    * exactly the pre-rule behavior. Measured r16: a 4x cap let d24's
    * per-round inner-join exchanges at sf1 read ~800 MB where the real
    * stream was ~200 MB, upscaling what already fit — +35% wall). None
    * when stats are absent or above the trust bound — fail CLOSED. */
  private def estimateBytes(child: SparkPlan, log: Boolean): Option[BigInt] = {
    def statsOf(p: SparkPlan): Option[BigInt] =
      p.logicalLink.map(_.stats.sizeInBytes)
    // When the direct child carries no logicalLink, the estimate is the
    // SUM over the highest linked node of EVERY branch (round-16 ADVICE:
    // the old collectFirst took the first pre-order descendant, which
    // could cover only one branch of a join input, silently skewing the
    // whole-input estimate). A branch with no linked node at all fails
    // the whole estimate CLOSED (None -> Keep, the pre-rule behavior).
    def coverSum(p: SparkPlan): Option[BigInt] =
      statsOf(p).orElse {
        if (p.children.isEmpty) None
        else {
          val cs = p.children.map(coverSum)
          if (cs.forall(_.isDefined)) Some(cs.flatten.sum) else None
        }
      }
    val direct = coverSum(child)
    // Leaf stats: a MATERIALIZED query stage reports its actual runtime
    // bytes (truth, not an estimate) — the strongest possible cap for the
    // runtime flavor; other leaves report their Catalyst estimate.
    //
    // ROUND-17 FINDING (first sf0.1 sizing-telemetry pass): a
    // checkpoint-pinned frame's LogicalRDD leaf INHERITS the Catalyst
    // estimate of the plan it pinned — for a join/explode-derived frame
    // that is multiplicative garbage baked in as leaf truth. At sf0.1
    // (whole corpus ~100 MB) d25's per-round distance pins claimed
    // 107.7 GB each and d27's token-table pin 52.8 GB, so the leaf-sum
    // cap itself was poisoned and six exchanges fired Up(512) — a
    // 10-20% local wall penalty hidden in session noise until the
    // telemetry artifact existed. The fix exploits that these pins are
    // MATERIALIZED: the block manager knows their actual stored bytes,
    // so an RDD leaf claiming more than 4x its real persisted size is
    // poisoned -> fail the whole estimate CLOSED (Keep/Veto, the
    // pre-rule behavior). A verified claim stays the ESTIMATE-flavor
    // number (not the block bytes), preserving the r16 expansion
    // calibration; an unmaterialized RDD leaf is unverifiable and keeps
    // its claim (every poisoned site observed pins eagerly — policed by
    // SizingFlatAtGateSpec and the per-round telemetry artifact).
    // NOTE a rejected variant, measured r17: materialized QueryStageExec
    // leaves reporting getRuntimeStatistics instead of their logicalLink
    // estimate. Runtime statistics are DESERIALIZED row bytes — ~10x the
    // catalyst numbers the r16 expansion factors were calibrated on — and
    // the looser cap immediately fired a fresh Up(192) on d11's sf1
    // verify exchange (leaf claims 61 MB, runtime sum >= 526 MB). Leaf
    // flavors must stay in the calibrated estimate currency; truth-bytes
    // enter only as the RDD-pin TRUST CHECK below, never as the number.
    def leafStats(p: SparkPlan): Option[BigInt] = p match {
      case rs: org.apache.spark.sql.execution.RDDScanExec =>
        val claimed = statsOf(rs)
        val real = session.sparkContext.getRDDStorageInfo
          .find(_.id == rs.rdd.id)
          .map(i => BigInt(i.memSize) + BigInt(i.diskSize))
          .filter(_ > 0)
        (claimed, real) match {
          case (Some(c), Some(r)) if ExchangeSizing.pinPoisoned(c, r) =>
            ExchangeSizing.poisonedPinCount.incrementAndGet()
            if (log) System.err.println(
              s"[graft-sizing] poisoned-pin rejected rdd=${rs.rdd.id} " +
                s"claimed=$c real=$r")
            None // fail the whole estimate closed
          case (c, _) => c
        }
      case other => statsOf(other)
    }
    direct.flatMap { d =>
      val leaves = child.collectLeaves().map(leafStats)
      if (leaves.nonEmpty && leaves.forall(_.isDefined))
        Some(d.min(leaves.flatten.sum))
      else None // no trustworthy magnitude bound -> fail closed
    }
  }

  private def repartitioned(part: Partitioning, n: Int): Option[Partitioning] =
    part match {
      case h: HashPartitioning => Some(h.copy(numPartitions = n))
      case r: RangePartitioning => Some(r.copy(numPartitions = n))
      case _ => None // SinglePartition / RoundRobin: semantics, not sizing
    }
}

/** The pure decision core — unit-tested in isolation (ExchangeSizingSpec)
  * and shared by the rule. */
object ExchangeSizing {

  /** The calibrated constants (see the rule's CALIBRATION notes). The
    * rule takes them through its constructor: production uses these
    * defaults, ExchangeSizingSpec shrinks them so toy data crosses the
    * thresholds. */
  final case class Params(
      targetTaskBytes: Long = 32L * 1024 * 1024,
      // the DO-NOTHING band: an exchange whose per-task working set at
      // the CURRENT count already fits is left alone even though the
      // target formula would pick more partitions — at sf1 the whole
      // graph family fits at the session default and upscaling it was
      // measured as pure task-overhead regression (d28 11.5 -> 18.8s at
      // 64 MB activation pre-band; d24 4.2 -> 5.9s from one leftover
      // Up(96) at a 96 MB/task estimate — 128 MB clears it, and the
      // file-flavor overestimate means the REAL bytes at the trigger are
      // ~3x lower, still far inside the ~300 MB pooled per-task budget)
      activationTaskBytes: Long = 128L * 1024 * 1024,
      maxPartitions: Int = 1024,
      maxWaves: Int = 16,
      fileExpansion: Int = 24,
      runtimeExpansion: Int = 12,
      maxTrustedBytes: Long = 1L << 40) // 1 TiB: beyond it, assume sentinel

  def eligibleOrigin(o: ShuffleOrigin): Boolean =
    o == ENSURE_REQUIREMENTS || o == REPARTITION_BY_COL

  /** A distribution that constrains its child's partitioning (forms a
    * co-partition group when a node has two or more). */
  def isPartitionConstraining(d: Distribution): Boolean = d match {
    case UnspecifiedDistribution => false
    case AllTuples => false
    case _: BroadcastDistribution => false
    case _ => true
  }

  /** Rows with nested collections: expansion estimates unreliable AND the
    * measured hot family (d27 verify) prefers fewer, larger tasks. */
  def hasWideColumns(schema: StructType): Boolean = {
    def wide(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType => true
      case s: StructType => s.fields.exists(f => wide(f.dataType))
      case _ => false
    }
    schema.fields.exists(f => wide(f.dataType))
  }

  /** All fixed-width primitives (the edge/long family): compressed->row
    * expansion is at its largest there (delta/RLE on longs). */
  def allFixedWidth(schema: StructType): Boolean = {
    def fixed(dt: DataType): Boolean = dt match {
      case _: ArrayType | _: MapType | _: StringType => false
      case s: StructType => s.fields.forall(f => fixed(f.dataType))
      case _ => dt.defaultSize <= 16
    }
    schema.fields.forall(f => fixed(f.dataType))
  }

  /** Three-way decision: Veto = a GATE failed (nested collections,
    * absent/untrusted estimate) — never resize, and veto any co-partition
    * group this exchange belongs to; Keep = healthy but no more partitions
    * needed (a group sibling may still pull it up); Up(n) = resize. */
  sealed trait Decision
  case object Veto extends Decision
  case object Keep extends Decision
  final case class Up(n: Int) extends Decision

  /** Session-wide count of Up decisions actually taken by the rule
    * (round-17 verdict task 6): lets a spec EXECUTE catalog queries and
    * pin "the sf0.1 protocol plans are untouched" as a hard zero, the
    * strongest form of the flat-by-construction claim. Telemetry only —
    * never read by the decision path. */
  val upCount = new java.util.concurrent.atomic.AtomicLong

  /** Session-wide count of poisoned checkpoint pins the trust check
    * rejected (round-18 verdict task 4): surfaces WHEN the fail-closed
    * path fires, so a telemetry artifact can show the check working (or
    * silent) instead of inferring it. Telemetry only — never read by the
    * decision path. */
  val poisonedPinCount = new java.util.concurrent.atomic.AtomicLong

  /** The RDD-pin trust check, as a pure boundary (round-18 verdict
    * task 4): a materialized RDD leaf whose CLAIMED Catalyst estimate
    * exceeds 4x its block-manager-reported persisted bytes is poisoned —
    * its LogicalRDD inherited a multiplicative join/explode estimate from
    * the plan it pinned (the r17 sf0.1 finding: 107.7 GB claims on
    * ~100 MB pins) — and the whole exchange estimate fails CLOSED.
    *
    * WHY 4x: the largest LEGITIMATE claimed-vs-stored gap observed is the
    * estimate-flavor spread on one dataset — parquet-scaled 547 MB vs
    * materialized columnar 1.46 GB (r16, the same 120M-edge stream), a
    * 2.7x ratio; storage-level serialization choices stay within ~3x of
    * the catalyst number across every pinned frame in the gate corpus.
    * 4x sits above that band with margin, while every observed poisoning
    * is >= 3 ORDERS beyond it (multiplicative estimates compound per
    * join). The boundary is deliberately conservative in BOTH directions:
    * a 3.9x claim passing as leaf truth only TIGHTENS the cap (the cap is
    * a min), and a false rejection merely keeps the exchange at its
    * session-default count — the pre-rule behavior. Boundary pinned at
    * 3x/4x/4x+1/5x by ExchangeSizingSpec. */
  def pinPoisoned(claimed: BigInt, storedBytes: BigInt): Boolean =
    claimed > storedBytes * 4

  /** The calibrated decision: estimated compressed bytes -> in-memory
    * working set -> the smallest FULL-WAVE count (multiple of the session
    * parallelism — whole scheduling waves, no straggler tail) whose
    * per-task working set fits `targetTaskBytes`. A power-of-two ceiling
    * was measured first and rejected: raw targets just past a boundary
    * (274 -> 512) doubled the task count and cost d28 ~2x at sf10 versus
    * the measured-optimal 256. */
  def targetCount(estBytes: BigInt, schema: StructType, current: Int,
                  parallelism: Int, runtimeStats: Boolean,
                  prm: Params): Decision = {
    if (estBytes <= 0 || estBytes > prm.maxTrustedBytes) return Veto
    if (hasWideColumns(schema)) return Veto
    // var-width (string-bearing) rows never INITIATE an upscale — the only
    // measured string-heavy hot family (d27's token-keyed exchanges at
    // sf10) prefers the session default (upscaling them to 64-256 cost
    // +30% median and fresh spill, measured r16); they may still FOLLOW a
    // fixed-width sibling in a co-partition group (Keep, not Veto).
    if (!allFixedWidth(schema)) return Keep
    // estimate FLAVOR matters (measured r16, same 120M-edge stream at
    // sf10): a parquet-scaled first-plan estimate reads 547 MB where the
    // materialized columnar cache reads 1.46 GB and the true UnsafeRow
    // working set is ~4.8 GB — expansions of ~9x vs ~3x. One constant
    // over-fires on cached/runtime stats (the sf1 d28 regression) or
    // under-fires on file stats; the rule knows which flavor it is
    // looking at from the subtree's leaves.
    val expansion = if (runtimeStats) prm.runtimeExpansion else prm.fileExpansion
    val inMem = estBytes * expansion
    // DO-NOTHING band: fits at the current count -> never touch (the
    // engine only intervenes against prospective spill, not to chase a
    // theoretical ideal — task overhead is real and measured)
    if (inMem / math.max(current, 1) <= prm.activationTaskBytes) return Keep
    val raw = ((inMem + prm.targetTaskBytes - 1) / prm.targetTaskBytes).toLong
    val waves = math.max(1, parallelism)
    val full = ((raw + waves - 1) / waves) * waves
    // two caps: maxWaves x parallelism (scheduling-wave bound — beyond ~8
    // full waves the per-task fixed costs outrun the working-set savings;
    // the r15 experiment's optimum for the edge family, 256 = 8 waves on
    // 32 cores, sits exactly there and estimates 2-5x apart all collapse
    // onto it) and the absolute maxPartitions backstop.
    val cap = math.min(prm.maxPartitions.toLong, prm.maxWaves.toLong * waves)
    val n = math.max(current.toLong, math.min(full, cap)).toInt
    if (n > current) Up(n) else Keep
  }
}
