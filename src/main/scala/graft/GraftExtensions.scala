package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{GpsSeconds, MinHashText, RepetitionStats, WordShingles}

/** SparkSessionExtensions entry point: registers graft's native Catalyst
  * functions with the SQL function registry (so `SELECT gps_seconds(ts)`
  * works in spark.sql as well as the Column API) and graft's optimizer
  * rules (RangeJoinRewrite: un-keyed interval joins become bucketed equi
  * joins instead of nested-loop O(n^2) plans; EmptyGroupingSetsRewrite:
  * standard-SQL grand-total rows for rollup/cube over empty input — a
  * round-15 differential-fuzzer finding).
  *
  * Activate with .config("spark.sql.extensions", "graft.GraftExtensions").
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.sqlFunctions.foreach(ext.injectFunction)
    ext.injectPostHocResolutionRule(_ => graft.plans.EmptyGroupingSetsRewrite)
    // standard-SQL grouping()/grouping_id() in HAVING under aliased select
    // lists (round-16 fuzzer finding f0151/f0154)
    ext.injectResolutionRule(_ => graft.plans.GroupingInHavingRewrite)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
    ext.injectPlannerStrategy(_ => graft.plans.GroupTopKStrategy)
    ext.injectPlannerStrategy(_ => graft.plans.SeriesDiffStrategy)
    // bytes-aware exchange sizing (round-16): per-exchange partition counts
    // derived from plan statistics — the engine-behavior answer to the r15
    // sf10 partition-sizing experiment (BENCH_sf10.json), at the
    // calibrated constants of ExchangeSizing.Params
    ext.injectQueryStagePrepRule(s => new graft.plans.ExchangeSizingRule(s))
  }
}

object GraftExtensions {

  /** Fold a literal-int SQL argument (the codegen'd expressions take
    * their sizes as constructor constants, so the SQL surface requires
    * foldable INT literals — a typed error beats a ClassCastException). */
  private def litInt(name: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$name: argument must be an INT literal, got ${other.sql}")
  }

  /** The SQL-registered native functions — gps_seconds plus the
    * text-curation kernels, so a user can run the whole shingle ->
    * minhash pipeline (and the Gopher repetition stats) from spark.sql
    * text without touching the Column API. Exposed as data so the
    * SqlFunctionsSpec registers the EXACT same builders on its shared
    * test session. */
  val sqlFunctions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (new FunctionIdentifier("gps_seconds"),
      new ExpressionInfo(classOf[GpsSeconds].getName, "gps_seconds"),
      (exprs: Seq[Expression]) => GpsSeconds(exprs.head)),
    (new FunctionIdentifier("minhash_text"),
      new ExpressionInfo(classOf[MinHashText].getName, "minhash_text"),
      (exprs: Seq[Expression]) => MinHashText(exprs(0),
        litInt("minhash_text(n)", exprs(1)),
        litInt("minhash_text(k)", exprs(2)))),
    (new FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (exprs: Seq[Expression]) => WordShingles(exprs(0),
        litInt("word_shingles(n)", exprs(1)))),
    (new FunctionIdentifier("repetition_stats"),
      new ExpressionInfo(classOf[RepetitionStats].getName, "repetition_stats"),
      (exprs: Seq[Expression]) => RepetitionStats(exprs.head)))
}
