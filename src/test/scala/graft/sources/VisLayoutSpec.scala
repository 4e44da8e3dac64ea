package graft.sources

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.mwa.{Fits, GraftConfig, MatchFilter, Uvh5, VisGenerator, VisOps, VisStore}
import graft.plans.SeriesDiffExec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{KeyGroupedPartitioning, SinglePartition}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

/** The layout the `graft-vis` scan reports, and the plans Spark builds
  * from it: splits, one per (file, coarse channel) in every format, are
  * key-grouped on (obsid, coarse_chan) and their rows come in the diff's
  * order, so the SSINS diff and INS aggregate run with no exchange and no
  * sort; the Parquet `VisStore` reports nothing, and
  * keeps both. Fixtures as in [[VisSourceSpec]]: 17 integrations, 4
  * antennas, 2 coarse x 8 fine channels, 2 pols. */
class VisLayoutSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val cfg = GraftConfig(removeFlaggedAnts = false)

  private def load(dir: String) = spark.read.format("graft-vis")
    .option("path", dir).load()

  /** The fixture directory of each format. */
  private def fixtures: Seq[(String, String)] = Seq(
    "gpubox" -> Fits.ensureFixture(), "uvfits" -> Fits.Uvfits.ensureFixture(),
    "uvh5" -> Uvh5.ensureFixture())

  private def insOf(vis: DataFrame): DataFrame =
    VisOps.ins(VisOps.diff(VisOps.selectSurface(vis, cfg)))

  private def plan(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def scanOf(df: DataFrame): BatchScanExec = {
    val scans = collect(plan(df)) { case b: BatchScanExec => b }
    assert(scans.length == 1)
    scans.head
  }

  /** Shuffle exchanges under the INS aggregates, the ones grouping on
    * coarse_chan (the final one holds the partial one). */
  private def shufflesUnderIns(df: DataFrame): Int = {
    val aggs = collect(plan(df)) {
      case a: HashAggregateExec
          if a.groupingExpressions.exists(_.references.exists(_.name == "coarse_chan")) => a
    }
    assert(aggs.nonEmpty)
    aggs.map(a => collect(a.child) { case e: ShuffleExchangeExec => e }.length).max
  }

  test("a gpubox SSINS chain runs from the scan to the INS with no shuffle") {
    // the same cells as the INS of the same rows with no layout reported
    val generated = insOf(VisGenerator.portable(spark, Fits.fixtureSpec))
    for ((name, dir) <- fixtures) withClue(name) {
      val vis = load(dir)
      assert(scanOf(vis).outputPartitioning.isInstanceOf[KeyGroupedPartitioning])
      val ins = insOf(vis)
      assert(shufflesUnderIns(ins) == 0)
      assert(collect(plan(ins)) { case e: ShuffleExchangeExec => e }.isEmpty)
      // the match filter's own grouping is the chain's one exchange, above the INS
      val flags = MatchFilter(ins, cfg)
      assert(shufflesUnderIns(flags) == 0)
      assert(collect(plan(flags)) { case e: ShuffleExchangeExec => e }.length == 1)
      assert(ins.columns.toSeq == generated.columns.toSeq)
      assert(ins.count() == 16L * 16 * 2) // (nTimes-1) x freqs x pols
      assert(ins.exceptAll(generated).isEmpty && generated.exceptAll(ins).isEmpty)
    }
  }

  /** The sorts and shuffle exchanges under the diff, and that no window
    * runs between the scan and the INS: the only window left in the chain
    * is the match filter's z-score, above the INS aggregates. */
  private def underDiff(df: DataFrame): (Int, Int) = {
    val diffs = collect(plan(df)) { case d: SeriesDiffExec => d }
    assert(diffs.length == 1)
    assert(collect(diffs.head) { case w: WindowExec => w }.isEmpty)
    (collect(diffs.head.child) { case s: SortExec => s }.length,
      collect(diffs.head.child) { case e: ShuffleExchangeExec => e }.length)
  }

  test("a gpubox scan reports the diff window's order: no sort and no exchange under it") {
    for ((name, dir) <- fixtures) withClue(name) {
      val ins = insOf(load(dir))
      assert(scanOf(ins).outputOrdering.map(_.child.references.head.name) == VisScan.Order)
      assert(collect(plan(ins)) { case w: WindowExec => w }.isEmpty)
      assert(underDiff(ins) == (0, 0))
      assert(underDiff(MatchFilter(ins, cfg)) == (0, 0))
      // a projection that lacks an order column reports no order
      val narrow = load(dir).select("obsid", "coarse_chan", "vis_re")
      assert(scanOf(narrow).outputOrdering.isEmpty)
    }
  }

  test("two gpubox files of one (obsid, coarse_chan) bring the sort back, with the one-file INS") {
    // each coarse channel in two files of one (obsid, coarse_chan), the
    // pols split between them: key groups of two splits, so Spark drops the
    // reported order and sorts, still with no exchange
    val root = Paths.get(tmpDir("graft_vis_layout_twofiles"))
    val bothDir = Files.createDirectories(root.resolve("both"))
    val halves = Seq(Seq("XX", "YY"), Seq("XY", "YX")).zipWithIndex.map { case (pols, i) =>
      val dir = root.resolve(s"half$i")
      for (f <- Fits.writeVis(dir, Fits.fixtureSpec.copy(pols = pols)))
        Files.copy(f, bothDir.resolve(f.getFileName.toString.replace("_00.fits", s"_0$i.fits")))
      dir.toString
    }
    val both = insOf(load(bothDir.toString))
    assert(underDiff(both) == (1, 0))
    // each INS cell is one pol's, from one file, so it equals that file's
    // own INS, planned with no sort
    val oneFile = halves.map(d => insOf(load(d)))
    oneFile.foreach(ins => assert(underDiff(ins) == (0, 0)))
    val union = oneFile.reduce(_ unionByName _)
    assert(both.count() == 16L * 16 * 4)
    assert(both.exceptAll(union).isEmpty && union.exceptAll(both).isEmpty)
  }

  test("the Parquet VisStore reports no layout and keeps the exchange") {
    val store = tmpDir("graft_vis_layout_store")
    VisStore.write(load(Fits.ensureFixture()), store)
    val ins = insOf(VisStore.read(spark, store))
    assert(shufflesUnderIns(ins) > 0)
    assert(underDiff(ins) == (1, 1))
    assert(ins.count() == 16L * 16 * 2)
  }

  test("a one-channel two-integration uvfits or uvh5 read plans one input partition") {
    for ((name, dir) <- fixtures.tail) withClue(name) {
      val read = load(dir).filter(col("coarse_chan") === 1 &&
        col("time_idx") >= 5 && col("time_idx") < 7)
      assert(scanOf(read).batch.planInputPartitions().length == 1)
      assert(read.queryExecution.toRdd.getNumPartitions == 1)
      assert(read.count() == 2L * 10 * 8 * 2)
    }
  }

  test("a projection without obsid or coarse_chan falls back to an unknown layout") {
    val dir = Fits.ensureFixture()
    // one split per file: key groups only while both key columns are read
    assert(load(dir).queryExecution.toRdd.getNumPartitions == 2)
    for (cols <- Seq(Seq("coarse_chan", "vis_re"), Seq("obsid", "vis_re"))) withClue(cols) {
      val df = load(dir).select(cols.map(col): _*)
      assert(!scanOf(df).outputPartitioning.isInstanceOf[KeyGroupedPartitioning])
      assert(df.queryExecution.toRdd.getNumPartitions == 2)
    }
    // a pruned read as the benchmark sends it: one channel x 2
    // integrations, count + sum; the partial and final aggregates keep
    // their SinglePartition exchange, so the read takes 2 jobs
    val read = load(dir).filter(col("coarse_chan") === 1 &&
        col("time_idx") >= 5 && col("time_idx") < 7)
      .agg(count(lit(1)), sum("vis_re"))
    assert(!scanOf(read).outputPartitioning.isInstanceOf[KeyGroupedPartitioning])
    assert(collect(plan(read)) {
      case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition => e
    }.length == 1)
    val (row, jobs) = jobsOf(read.head())
    assert(row.getLong(0) == 2L * 10 * 8 * 2)
    assert(jobs == 2)
  }

  test("a filter that prunes every partition yields an empty result with the schema") {
    val dir = Fits.ensureFixture()
    val flagColumns = MatchFilter(insOf(load(dir)), cfg).columns.toSeq
    for (f <- Seq(col("time_idx") >= 100, col("coarse_chan") === 99)) withClue(f) {
      val none = load(dir).filter(f)
      assert(scanOf(none).batch.planInputPartitions().isEmpty)
      assert(none.schema == VisSource.schema)
      assert(none.collect().isEmpty)
      val flags = MatchFilter(insOf(none), cfg)
      assert(flags.columns.toSeq == flagColumns)
      assert(flags.collect().isEmpty)
    }
  }
}
