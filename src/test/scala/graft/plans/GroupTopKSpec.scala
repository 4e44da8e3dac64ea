package graft.plans

import org.apache.spark.sql.execution.exchange.EnsureRequirements
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.SparkSpec
import graft.operators.RelationalOps

/** GroupTopK custom plan node: must produce exactly the window-rank rows
  * with a partial-then-final physical shape (map-side k-bounding before
  * the single hash exchange). */
class GroupTopKSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var saved: Seq[org.apache.spark.sql.execution.SparkStrategy] = Nil
  override def beforeAll(): Unit = {
    super.beforeAll()
    saved = spark.experimental.extraStrategies
    spark.experimental.extraStrategies =
      saved.filterNot(_ == GroupTopKStrategy) :+ GroupTopKStrategy
  }
  override def afterAll(): Unit = {
    spark.experimental.extraStrategies = saved
    super.afterAll()
  }

  test("matches the row_number window on real data") {
    val dir = "/root/testdata/sf0.01"
    val j = graft.Tables.orders(spark, dir)
      .join(graft.Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select("c_mktsegment", "o_orderkey", "o_totalprice")
      .repartition(7) // force multi-partition partial phase
    val ord = Seq(col("o_totalprice").desc, col("o_orderkey"))
    val exp = RelationalOps.topKPerGroup(j, Seq(col("c_mktsegment")), ord, 3)
      .select("c_mktsegment", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = RelationalOps.topKPerGroupExec(j, Seq(col("c_mktsegment")), ord, 3)
      .select("c_mktsegment", "o_orderkey")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == exp)
  }

  test("plans partial+final around ONE exchange, one reduced-data sort") {
    val df = Seq((1, 10, "a"), (1, 20, "b"), (2, 30, "c")).toDF("g", "v", "s")
      .repartition(3)
    val top = RelationalOps.topKPerGroupExec(df, Seq(col("g")), Seq(col("v").desc), 1)
    val plan = top.queryExecution.executedPlan.toString
    // the exec node prints as "GroupTopK" (nodeName drops the Exec suffix)
    assert("GroupTopK \\[".r.findAllIn(plan).size == 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
    // exactly ONE spillable sort, ABOVE the exchange (i.e. over the
    // k-bounded partial output, not the full input) — the final phase's
    // streaming-scan ordering requirement
    assert("Sort \\[".r.findAllIn(plan).size == 1, plan)
    assert(plan.indexOf("Sort [") < plan.indexOf("Exchange hashpartitioning"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("partial map at capacity passes rows through; result still exact") {
    // 1M rows, 100k groups — the dedupFirst-on-near-unique-keys shape
    // the vanilla heap map could not bound (VERDICT r5 finding 1)
    val n = 1000000L
    val df = spark.range(n)
      .select((col("id") % 100000).as("g"), col("id").as("v"))
      .repartition(8)
    val top = RelationalOps.topKPerGroupExec(df, Seq(col("g")), Seq(col("v")), 1)
    // plan both phases with a cap of 16 groups, then let EnsureRequirements
    // add the exchange and sort; run without AQE, whose query stages would
    // hide the partial exec (and its metric) from plan traversal
    val plan = EnsureRequirements()(top.queryExecution.sparkPlan.transform {
      case g: GroupTopKExec => g.copy(maxPartialGroups = 16)
    })
    val rows = plan.executeCollect()
    assert(rows.length == 100000)
    // survivor per key g is min(v); v in {g, g+100000, ...} so min = g
    assert(rows.forall(r => r.getLong(1) == r.getLong(0)))
    // and the tiny cap forced real pass-through on the map side
    val partial = plan.collectFirst {
      case g: GroupTopKExec if g.partial => g
    }.get
    assert(partial.metrics("passThroughRows").value > 0)
  }

  test("edge cases: k larger than group, k=1, empty input") {
    val df = Seq((1, 5), (1, 6), (2, 7)).toDF("g", "v")
    val all = RelationalOps.topKPerGroupExec(df, Seq(col("g")), Seq(col("v")), 10)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(all == Set((1, 5), (1, 6), (2, 7)))
    val k1 = RelationalOps.topKPerGroupExec(df, Seq(col("g")), Seq(col("v").desc), 1)
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(k1 == Set((1, 6), (2, 7)))
    val empty = RelationalOps.topKPerGroupExec(
      df.filter(col("v") > 100), Seq(col("g")), Seq(col("v")), 2).count()
    assert(empty == 0L)
  }

  test("global top-k when groupBy is empty (AllTuples distribution)") {
    val df = spark.range(1000).select(col("id"), (col("id") % 97).as("v"))
    val got = RelationalOps.topKPerGroupExec(df, Nil,
        Seq(col("v").desc, col("id")), 5)
      .collect().map(_.getLong(0)).toSet
    // v = 96 at id = 96, 193, 290, 387, 484 (ids ascending tiebreak)
    assert(got == Set(96L, 193L, 290L, 387L, 484L))
  }
}
