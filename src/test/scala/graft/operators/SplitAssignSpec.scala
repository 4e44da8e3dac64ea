package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** splitAssign's round-8 distributed-rank rewrite: same assignment as the
  * round-7 per-domain window (the t30 oracle contract), but with NO window
  * in the plan — the old `Window.partitionBy(domain)` put each domain's
  * entire row set in one task, a scale-killer with few domains at 100 TB.
  */
class SplitAssignSpec extends SparkSpec {

  // 20000 rows >> the range exchange's boundary sample size (4 partitions
  // x 100 samples): the two-pass rank is only honest if it holds when
  // partition boundaries are SAMPLED, not exact — the regime where the
  // un-checkpointed round-8 draft silently diverged at sf0.1
  private def fixture = {
    import spark.implicits._
    spark.range(20000).select(
      col("id").as("doc_id"),
      when(col("id") % 7 < 3, "en").when(col("id") % 7 < 5, "de")
        .otherwise("zh").as("lang"),
      (col("id") * 13 % 97).as("payload"))
  }

  /** The round-7 window construction, kept as the semantic reference. */
  private def windowReference = {
    val df = fixture
    val w = Window.partitionBy(col("lang"))
    val ord = w.orderBy(Sampling.keyHash(col("doc_id")), col("doc_id"))
    df.withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(w))
      .withColumn("split",
        when(col("__rn") <= expr("__n * 800 div 1000"), lit("train"))
          .when(col("__rn") <= expr("__n * 800 div 1000") +
            expr("__n * 100 div 1000"), lit("val"))
          .otherwise(lit("test")))
      .drop("__rn", "__n")
  }

  test("distributed rank matches the window reference row for row") {
    val got = Sampling.splitAssign(fixture, "lang", col("doc_id"))
    val exp = windowReference
    assert(got.columns.toSeq == Seq("doc_id", "lang", "payload", "split"))
    val g = got.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    val e = exp.collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(g == e)
  }

  test("quotas are exact per domain and deterministic across runs") {
    val got = Sampling.splitAssign(fixture, "lang", col("doc_id"),
      trainPermille = 700, valPermille = 150)
    val counts = got.groupBy("lang", "split").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val n = fixture.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((d, nd) <- n) {
      assert(counts((d, "train")) == nd * 700 / 1000)
      assert(counts((d, "val")) == nd * 150 / 1000)
      assert(counts((d, "test")) == nd - nd * 700 / 1000 - nd * 150 / 1000)
    }
    val again = Sampling.splitAssign(fixture, "lang", col("doc_id"),
      trainPermille = 700, valPermille = 150)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(again == got.collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap)
  }

  test("shuffleShards: balanced round-robin shards matching the hash order") {
    val got = Sampling.shuffleShards(fixture, col("doc_id"), 16)
    assert(got.columns.toSeq ==
      Seq("doc_id", "lang", "payload", "shard", "shard_pos"))
    // round-robin balance: 20000 rows over 16 shards -> exactly 1250 each
    val sizes = got.groupBy("shard").count().collect().map(_.getLong(1))
    assert(sizes.length == 16 && sizes.forall(_ == 1250L))
    // parity with the explicit (single-task) window construction
    val w = Window.orderBy(Sampling.keyHash(col("doc_id")), col("doc_id"))
    val exp = fixture.withColumn("__rk", row_number().over(w) - 1)
      .select(col("doc_id"), (col("__rk") % 16).cast("int").as("shard"),
        expr("__rk div 16").cast("long").as("shard_pos"))
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val g = got.select("doc_id", "shard", "shard_pos")
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(g == exp)
    // and again: no window in the distributed plan
    assert(got.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }.isEmpty)
  }

  test("plan has no window and ranks over the materialized range exchange") {
    val got = Sampling.splitAssign(fixture, "lang", col("doc_id"))
    // the single-task-per-domain shape is GONE: no Window node anywhere
    assert(got.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }.isEmpty)
    // the range exchange ran eagerly inside the count pass and was
    // localCheckpoint-materialized (boundary-sampling determinism — see
    // Sampling.hashRank); the returned plan reads those blocks
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD") || p.contains("rangepartitioning"), p)
    // and the analyzed plan has none of the at-scale shapes a strict
    // check rejects: an unpartitioned window or a condition-less
    // inner/cross join
    assert(got.queryExecution.analyzed.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
      case j @ Join(_, _, Inner | Cross, None, _) => j
    }.isEmpty)
    assert(got.count() == 20000L)
  }
}
