package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins the round-16 fuzzer finding (FUZZ_r16_sf01 f0151/f0154) and its
  * fix: Spark cannot resolve `grouping()` / `grouping_id()` in HAVING when
  * the SELECT list aliases the grouping columns away — standard SQL that
  * DuckDB and PostgreSQL accept. GroupingInHavingRewrite substitutes the
  * gid arithmetic for the stuck TempResolvedColumn form.
  *
  * Production wiring (builder.withExtensions — the same
  * injectResolutionRule path Verify/Bench activate); expected values are
  * hand-computed AND cross-checked against DuckDB by the q73 catalog row
  * every round. */
class GroupingInHavingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var prevDefault: Option[SparkSession] = None

  lazy val spark: SparkSession = {
    prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-gih-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.GraftExtensions()(_))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    import s.implicits._
    Seq((1, 10L), (1, 20L), (2, 30L)).toDF("k", "v")
      .createOrReplaceTempView("gih_t")
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

  test("grouping() in HAVING under an aliased select list resolves") {
    val out = spark.sql(
      """SELECT k AS c0, count(*) AS c1 FROM gih_t
         GROUP BY CUBE(k) HAVING grouping(k) = 1""").collect()
    assert(out.toSeq == Seq(Row(null, 3L)))
  }

  test("qualified grouping() argument resolves too") {
    val out = spark.sql(
      """SELECT t0.k AS c0, count(*) AS c1 FROM gih_t t0
         GROUP BY CUBE(t0.k) HAVING grouping(t0.k) = 0""")
      .orderBy("c0").collect()
    assert(out.toSeq == Seq(Row(1, 2L), Row(2, 1L)))
  }

  test("full-list grouping_id() in HAVING becomes the gid") {
    val out = spark.sql(
      """SELECT t0.k AS c0, t0.v AS c1, count(*) AS c2 FROM gih_t t0
         GROUP BY CUBE(t0.k, t0.v)
         HAVING grouping_id(t0.k, t0.v) = 3""").collect()
    assert(out.toSeq == Seq(Row(null, null, 3L)))
  }

  test("mask arithmetic matches the SELECT-side grouping() bit for bit") {
    // same query with the grouping values PROJECTED (the path Spark
    // resolves natively) must agree with HAVING-filtered variants
    val sel = spark.sql(
      """SELECT k AS c0, count(*) AS c1, CAST(grouping(k) AS INT) AS g
         FROM gih_t GROUP BY ROLLUP(k)""").collect()
      .map(r => (r.get(0), r.getLong(1), r.getInt(2))).toSet
    val hav0 = spark.sql(
      """SELECT k AS c0, count(*) AS c1 FROM gih_t
         GROUP BY ROLLUP(k) HAVING grouping(k) = 0""").collect()
      .map(r => (r.get(0), r.getLong(1), 0)).toSet
    val hav1 = spark.sql(
      """SELECT k AS c0, count(*) AS c1 FROM gih_t
         GROUP BY ROLLUP(k) HAVING grouping(k) = 1""").collect()
      .map(r => (r.get(0), r.getLong(1), 1)).toSet
    assert(hav0 ++ hav1 == sel)
  }

  test("grouping function mixed with aggregate predicates in HAVING") {
    val out = spark.sql(
      """SELECT k AS c0, count(*) AS c1 FROM gih_t
         GROUP BY CUBE(k) HAVING grouping(k) = 0 AND count(*) > 1""").collect()
    assert(out.toSeq == Seq(Row(1, 2L)))
  }

  test("partial grouping_id keeps Spark's native full-list contract (error)") {
    val e = intercept[Exception] {
      spark.sql(
        """SELECT k AS c0, count(*) AS c1 FROM gih_t
           GROUP BY CUBE(k, v) HAVING grouping_id(v) <> 0""").collect()
    }
    assert(e.getMessage.contains("UNRESOLVED_COLUMN") ||
      e.getMessage.toLowerCase.contains("grouping"))
  }

  test("no-alias path still resolves through native machinery") {
    val out = spark.sql(
      """SELECT k, count(*) FROM gih_t
         GROUP BY CUBE(k) HAVING grouping(k) = 1""").collect()
    assert(out.toSeq == Seq(Row(null, 3L)))
  }

  test("works together with the empty-input grand-total rewrite") {
    // empty input + rollup + HAVING on grouping(): the fallback row has
    // grouping(k)=1 and must survive the HAVING, per DuckDB/PostgreSQL
    val out = spark.sql(
      """SELECT k AS c0, count(*) AS c1 FROM gih_t WHERE v > 1000
         GROUP BY ROLLUP(k) HAVING grouping(k) = 1""").collect()
    assert(out.toSeq == Seq(Row(null, 0L)))
  }
}
