package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-15 fuzzer finding (FUZZ_r15_sf01 f0068/f0137) and its
  * fix: Spark's grouping-sets lowering drops the ()-set grand-total row
  * over EMPTY input, where the standard (and DuckDB/PostgreSQL) yield
  * one row per empty grouping set. EmptyGroupingSetsRewrite restores it.
  *
  * Uses a DEDICATED session built through the PRODUCTION wiring
  * (`GraftExtensions` via builder.withExtensions — the same
  * injectPostHocResolutionRule path Verify/Bench activate), not a
  * per-suite extraOptimizations install: the rule must run BEFORE the
  * optimizer (PropagateEmptyRelation collapses statically-empty
  * grouping-set aggregates in earlier batches, unrecoverably), so an
  * optimizer-slot install would test a different — weaker — injection
  * point than production (the PqPortableSpec lesson: certify the wiring
  * you ship). The previous default session is restored in afterAll so
  * the shared-session suites are unaffected (suites run sequentially in
  * the forked test JVM).
  */
class EmptyGroupingSetsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var prevDefault: Option[SparkSession] = None

  lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-egs-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    prevDefault.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
    super.afterAll()
  }

  private def src = {
    import spark.implicits._
    Seq((1, "a", 10L), (1, "b", 20L), (2, "a", 30L))
      .toDF("k1", "k2", "v")
  }

  test("rollup over runtime-empty input yields the grand-total row") {
    val out = src.filter(col("v") > 1000)
      .rollup(col("k1")).agg(min(col("k2")).as("m"), count(lit(1)).as("c"))
      .collect()
    assert(out.toSeq == Seq(Row(null, null, 0L)))
  }

  test("cube over empty input yields exactly one grand-total row") {
    val out = src.filter(col("v") > 1000)
      .cube(col("k1"), col("k2")).agg(sum(col("v")).as("s"))
      .collect()
    assert(out.toSeq == Seq(Row(null, null, null)))
  }

  test("grouping()/grouping_id() fold to the all-excluded mask on the fallback row") {
    src.createOrReplaceTempView("egs_t")
    val out = spark.sql(
      """SELECT k1, min(k2) AS m, grouping(k1) AS g, grouping_id() AS gi
         FROM egs_t WHERE v > 1000 GROUP BY ROLLUP(k1)""").collect()
    assert(out.toSeq == Seq(Row(null, null, 1.toByte, 1L)))
  }

  test("non-empty input is unchanged (fallback filters itself out)") {
    val out = src.rollup(col("k1"))
      .agg(sum(col("v")).as("s"))
      .orderBy(col("k1").asc_nulls_first)
      .collect()
    assert(out.toSeq == Seq(Row(null, 60L), Row(1, 30L), Row(2, 30L)))
  }

  test("sql GROUPING SETS with one empty set over runtime-empty input") {
    src.createOrReplaceTempView("egs_t2")
    val out = spark.sql(
      """SELECT k1, count(*) AS c FROM egs_t2 WHERE length(k2) > 99
         GROUP BY GROUPING SETS ((k1), ())""").collect()
    assert(out.toSeq == Seq(Row(null, 0L)))
  }

  test("statically-empty input (WHERE false) also yields the total row") {
    src.createOrReplaceTempView("egs_t3")
    val out = spark.sql(
      """SELECT k1, min(v) AS m FROM egs_t3 WHERE false
         GROUP BY ROLLUP(k1)""").collect()
    assert(out.toSeq == Seq(Row(null, null)))
  }

  test("HAVING applies to the fallback row too") {
    src.createOrReplaceTempView("egs_t4")
    // grand-total row has c = 0, filtered by HAVING count(*) > 0 -> empty
    val out = spark.sql(
      """SELECT k1, count(*) AS c FROM egs_t4 WHERE v > 1000
         GROUP BY ROLLUP(k1) HAVING count(*) > 0""").collect()
    assert(out.isEmpty)
  }

  test("GROUPING SETS with no empty set stays empty on empty input") {
    src.createOrReplaceTempView("egs_t5")
    val out = spark.sql(
      """SELECT k1, k2, count(*) AS c FROM egs_t5 WHERE v > 1000
         GROUP BY GROUPING SETS ((k1), (k2))""").collect()
    assert(out.isEmpty)
  }

  test("DUPLICATE empty sets each contribute a total row (shared fallback)") {
    // GROUPING SETS ((), ()) = two grand-total rows per the standard —
    // the rewrite must keep one row PER declared empty set while
    // computing the fallback aggregate once (round-15 ADVICE, low)
    src.createOrReplaceTempView("egs_t6")
    val out = spark.sql(
      """SELECT k1, count(*) AS c FROM egs_t6 WHERE v > 1000
         GROUP BY GROUPING SETS ((k1), (), ())""").collect()
    assert(out.toSeq == Seq(Row(null, 0L), Row(null, 0L)))
    // and on NON-empty input the duplicate sets come from the native
    // path while the fallbacks filter themselves out
    val full = spark.sql(
      """SELECT count(*) AS c FROM egs_t6
         GROUP BY GROUPING SETS ((k1), (), ())""")
      .orderBy(col("c")).collect()
    assert(full.toSeq == Seq(Row(1L), Row(2L), Row(3L), Row(3L)))
  }

  test("a SECOND rollup layered over a rewritten frame is also rewritten") {
    // round-15 ADVICE (medium): the old plan-global marker check bailed
    // for the whole plan when ANY subtree carried the marker, so a
    // rollup OVER an already-rewritten aggregate silently reverted to
    // native empty-input semantics. Per-node tagging fixes it: layer 2
    // groups layer 1's (empty-input) total row, filters it away, and
    // must STILL produce its own grand-total row.
    val layer1 = src.filter(col("v") > 1000)
      .rollup(col("k1")).agg(count(lit(1)).as("c"))   // rewritten: 1 row, c=0
    val layer2 = layer1.filter(col("c") > 0)           // empty again
      .rollup(col("k1")).agg(sum(col("c")).as("s"), count(lit(1)).as("n"))
    assert(layer2.collect().toSeq == Seq(Row(null, null, 0L)))
  }

  test("set-dependent aggregate input (gid under an agg function) stays exact") {
    // sum(grouping_id()) makes the aggregate INPUT set-dependent — the
    // shared-slot split is unsound there; the per-set shape must kick in.
    // Empty input: the ()-set row has sum(grouping_id()) over zero rows
    // = NULL, count = 0, and grouping_id() projected = 1.
    src.createOrReplaceTempView("egs_t7")
    val out = spark.sql(
      """SELECT k1, sum(grouping_id()) AS sg, grouping_id() AS gi,
                count(*) AS c
         FROM egs_t7 WHERE v > 1000 GROUP BY ROLLUP(k1)""").collect()
    assert(out.toSeq == Seq(Row(null, null, 1L, 0L)))
  }
}
