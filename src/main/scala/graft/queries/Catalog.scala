package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The executable query inventory (SURVEY.md §2.11 + [EXT] operators), each
  * paired with its DuckDB oracle SQL where SQL-expressible. The rows live
  * in one object per family (`RelationalQueries`, `DedupQueries`,
  * `GraphQueries`, `VectorQueries`, `TextQueries`, `MwaQueries`,
  * `MultimodalQueries`, `StreamingQueries`); this object holds
  * [[QueryDef]], the helpers the families share, and the registry.
  *
  * Determinism contract with the oracle:
  *  - every query ends with ORDER BY on a unique key prefix;
  *  - float outputs ROUND(x, 2) (similarity ROUND(x, 4));
  *  - money aggregations go through DECIMAL(18,2) on BOTH engines — the
  *    inputs are exact 2-decimal values, so decimal sums are exact and
  *    order-independent, immune to parallel-summation float drift;
  *  - column names identical on both sides (the driver hashes by name);
  *  - ZERO SIGN is normalized wherever a float output can be zero: a
  *    rounded near-zero negative is -0.0 in DuckDB but +0.0 through
  *    Spark's BigDecimal round (and `0 * -c` is -0.0 on the JVM but
  *    +0.0 in DuckDB — the mwa23 direction). `+ 0.0` on both sides (or
  *    `0.0 - expr` in generators) forces +0.0; the round-12 sf0.1
  *    bit-level sweep is the net that catches violations (q22/q41/q50).
  */
object Catalog {

  final case class QueryDef(
      name: String,
      build: (SparkSession, String) => DataFrame,
      oracle: Option[String],
      bench: Boolean = false)

  /** Run SQL against QUERY-SCOPED temp views: the caller writes the SQL
    * with `graft_<query>_<table>` names, registers the frames here, and
    * the views are dropped before returning — spark.sql analyzes eagerly,
    * so the returned plan keeps the resolved relations. A query build
    * must never hijack a user-visible name like "orders" in a shared
    * session (and must not leave views behind). */
  private[queries] def scopedSql(s: SparkSession,
      views: Seq[(String, DataFrame)], sql: String): DataFrame = {
    views.foreach { case (n, df) => df.createOrReplaceTempView(n) }
    try s.sql(sql)
    finally views.foreach { case (n, _) => s.catalog.dropTempView(n) }
  }

  private[queries] def dec(c: Column): Column = c.cast("decimal(18,2)")

  /** Half-away-from-zero cents, matching DuckDB's `ROUND(v * 100)` for
    * EVERY sign: plain `floor(v*100 + 0.5)` is half-UP, which diverges
    * for negative values — a latent hash hazard if a fixture ever grows
    * them (round-11 ADVICE). Monotone, so MIN/MAX/ORDER BY over the
    * rounded values are unaffected. */
  private[queries] def centi(c: Column): Column =
    (signum(c) * floor(abs(c) * 100 + 0.5)).cast("long")

  /** Cosine over DuckDB `DOUBLE[]` aliases `a.e`/`b.e`, for the oracles of
    * the embedding kNN and near-dup rows. */
  private[queries] val duckCosine =
    """list_dot_product(a.e, b.e) /
       (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))"""

  /** Run `body` with the given session confs set, then restore each one's
    * previous value, or unset it, in a `finally`: a raised limit or a
    * swapped state-store provider never outlives the build that set it. */
  private[queries] def withConfs[T](s: SparkSession, confs: (String, String)*)(
      body: => T): T = {
    val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** A partition count derived from `df`'s plan-time size estimate: one
    * per ~8 MB, at least 4, capped by the session's
    * `spark.sql.shuffle.partitions` so the cluster conf governs at scale. */
  private[queries] def sizedPartitions(s: SparkSession, df: DataFrame): Int = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val cap = s.conf.get("spark.sql.shuffle.partitions").toLong
    math.min(cap, math.max(4L, (bytes / (8L << 20)).toLong + 1L)).toInt
  }

  /** Every row; `benchNames`, and so the bench artifacts, follow this order. */
  val all: Seq[QueryDef] = {
    import RelationalQueries._, DedupQueries._, GraphQueries._, VectorQueries._,
      TextQueries._, MwaQueries._, MultimodalQueries._, StreamingQueries._
    Seq(
      q01, q02, q03, q04, q05, q06, q07, q08, q09, q10, q11, q12, q13, q14, q15,
      q16, q17, q18i, q18e, q18u, q19, q20, q21, q22, q23, q24, q25, q26, q27,
      q28, q29, d01, d02, d03, d04, d05, d06, d07, d08, d09, d10, d11, d12, d13,
      d14, d15, d16, d17, d18, d19, d20, d21, d22, d23, x01, x02, x03, x04, x05,
      x06, x07, x08, x09, x10, x11, t01, t02, t03, t04, t05, t06, t07, t08, t09,
      t10, t11, t12, t13, t14, t15, t16, t17, t18, t19, t20, t21, t22, t23, t24,
      t25, t26, t27, t28, t29, t30, t31, t32, t33, t34, t35, q50, mwa01, mwa02,
      mwa03, mwa04, mwa05, mwa06, mwa07, mwa08, mwa09, mwa10, mwa11, mwa12,
      mwa13, mwa14, mwa15, mwa16, m01, m02, m03, e01, e02, e03, s01, s02, s03,
      s04, s05, s06, s07, s08, s09, s10, s11, s12, s13, s14, s15, s16, s17, s20,
      s21, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40, q54, q55, q56,
      q57, q58, q59, q60, q61, q62, q63, q64, q65, q66, q67, q41, q42, q43, q44,
      q45, q46, q47, q48, q49, q51, q52, q53, d24, d25, e04, q68, t37, s18, q69,
      q70, d26, q71, s19, d27, m04, mwa17, mwa18, mwa19, mwa20, mwa21, mwa22,
      mwa23, mwa24, mwa25, s22, d28, q72, q73, x12, x13, x14, x15, x16, x17,
      q74, t38, q75, q76, q77, e05, e06, e07)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.build).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(o => q.name -> normalize(o))).toMap

  def benchNames: Seq[String] = all.filter(_.bench).map(_.name)

  /** Collapse the Scala triple-quote indentation into single-line-friendly
    * SQL (DuckDB doesn't care, but it keeps oracle_sql.json readable). */
  private def normalize(sql: String): String =
    sql.linesIterator.map(_.trim).filter(_.nonEmpty).mkString(" ")
}
