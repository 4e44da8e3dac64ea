package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** qualityGate: per-domain top-permille by score on the distributed-rank
  * construction — same kept set as the textbook per-domain window, with
  * no Window node (the single-task-per-domain shape) in the plan.
  */
class QualityGateSpec extends SparkSpec {

  // 20000 rows >> the range exchange's boundary sample size, and the
  // score has only 11 distinct values — the rank is tie-dominated, so
  // the md5 tiebreak path is what the parity test actually exercises
  private def fixture = {
    import spark.implicits._
    spark.range(20000).select(
      col("id").as("doc_id"),
      when(col("id") % 7 < 3, "en").when(col("id") % 7 < 5, "de")
        .otherwise("zh").as("lang"),
      (col("id") * 13 % 11).as("score"))
  }

  /** The textbook window construction, kept as the semantic reference. */
  private def windowReference(keepPermille: Int) = {
    val df = fixture
    val w = Window.partitionBy(col("lang"))
    val ord = w.orderBy(col("score").desc,
      Sampling.keyHash(col("doc_id")), col("doc_id"))
    df.withColumn("__rn", row_number().over(ord))
      .withColumn("__n", count(lit(1)).over(w))
      .filter(col("__rn") <= expr(s"__n * $keepPermille div 1000"))
      .drop("__rn", "__n")
  }

  test("kept set matches the window reference exactly, ties and all") {
    val got = Sampling.qualityGate(fixture, "lang", col("score"),
      col("doc_id"), 300)
    assert(got.columns.toSeq == Seq("doc_id", "lang", "score"))
    val g = got.select("doc_id").collect().map(_.getLong(0)).toSet
    val e = windowReference(300).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    assert(g == e)
  }

  test("quotas are exact per domain; 0 and 1000 permille degenerate cleanly") {
    val n = fixture.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = Sampling.qualityGate(fixture, "lang", col("score"),
        col("doc_id"), 250)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((d, nd) <- n) assert(kept(d) == nd * 250 / 1000)
    assert(Sampling.qualityGate(fixture, "lang", col("score"),
      col("doc_id"), 0).count() == 0L)
    assert(Sampling.qualityGate(fixture, "lang", col("score"),
      col("doc_id"), 1000).count() == 20000L)
  }

  test("plan has no window and passes the strict check rule") {
    val got = Sampling.qualityGate(fixture, "lang", col("score"),
      col("doc_id"), 300)
    assert(got.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }.isEmpty)
    // the at-scale shapes a strict check rejects, in the analyzed plan:
    // an unpartitioned window or a condition-less inner/cross join
    assert(got.queryExecution.analyzed.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
      case j @ Join(_, _, Inner | Cross, None, _) => j
    }.isEmpty)
  }
}
