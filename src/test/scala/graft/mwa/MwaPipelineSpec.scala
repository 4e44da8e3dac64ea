package graft.mwa

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

/** Golden tests for the MWA chain: diff (W1), INS (G6), z-score (W2) and
  * the match filter (§2.8), against generator-planted RFI. */
class MwaPipelineSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val spec = VisGenerator.Spec(nTimes = 16, nAnts = 6, nCoarse = 2,
    nFine = 8, pols = Seq("XX", "YY"))

  test("diff cancels the constant sky exactly (noiseless, no RFI)") {
    val clean = spec.copy(noiseSigma = 0.0, rfiAmp = 0.0, streakAmp = 0.0)
    val d = VisOps.diff(VisGenerator.vis(spark, clean))
    val mx = d.agg(max(abs(col("vis_re"))), max(abs(col("vis_im")))).head
    assert(mx.getDouble(0) == 0.0 && mx.getDouble(1) == 0.0)
  }

  test("diff drops the last time of each series") {
    val d = VisOps.diff(VisGenerator.vis(spark, spec))
    assert(d.agg(countDistinct(col("time_idx"))).head.getLong(0) == spec.nTimes - 1)
    // per-series row count = nTimes - 1
    val counts = d.groupBy("ant1", "ant2", "freq_hz", "pol").count()
      .select("count").distinct().collect().map(_.getLong(0))
    assert(counts.toSeq == Seq(spec.nTimes - 1L))
  }

  test("diff pairs across a missing integration and drops only each series' last row") {
    // integration 5 missing from one series: its time 4 pairs with time 6
    val inSeries = col("ant1") === 1 && col("ant2") === 3 && col("pol") === "YY" &&
      col("freq_hz") === spec.freq0Hz + 3 * spec.dfHz
    val vis = VisGenerator.vis(spark, spec).filter(!(inSeries && col("time_idx") === 5))
    // the window spec the diff used before it ordered by frequency: one
    // series per partition, its last row dropped for a null successor
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("obsid"),
      col("coarse_chan"), col("ant1"), col("ant2"), col("freq_hz"), col("pol"))
      .orderBy(col("time_idx"))
    val next = Seq("vis_re", "vis_im", "flag", "nsample").zipWithIndex
      .map { case (c, i) => lead(col(c), 1).over(w).as(s"__n$i") }
    val inline = vis.select(vis.columns.map(col) ++ next: _*)
      .filter(col("__n0").isNotNull)
      .withColumn("vis_re", col("__n0") - col("vis_re"))
      .withColumn("vis_im", col("__n1") - col("vis_im"))
      .withColumn("flag", col("flag") || col("__n2"))
      .withColumn("nsample", (col("nsample") + col("__n3")) / 2)
      .drop("__n0", "__n1", "__n2", "__n3")
    val d = VisOps.diff(vis)
    assert(d.columns.toSeq == inline.columns.toSeq)
    assert(d.exceptAll(inline).isEmpty && inline.exceptAll(d).isEmpty)
    // exactly one row fewer per series
    val series = vis.select("ant1", "ant2", "freq_hz", "pol").distinct().count()
    assert(d.count() == vis.count() - series)
    val bridged = d.filter(inSeries).select("time_idx").collect().map(_.getInt(0))
    assert(bridged.sorted.toSeq == (0 until spec.nTimes - 1).filter(_ != 5))
  }

  test("the one-pass diff equals the five-lead window: nulls, NaN, -0.0, one-row series") {
    import spark.implicits._
    val fine = ((col("freq_hz") - spec.freq0Hz) / spec.dfHz).cast("int")
    val t = col("time_idx")
    def baseline(a1: Int, a2: Int) = col("ant1") === a1 && col("ant2") === a2
    def nullWhen(c: String, cond: org.apache.spark.sql.Column) =
      when(cond, lit(null)).otherwise(col(c))
    val base = VisGenerator.vis(spark, spec)
      .withColumn("vis_re", nullWhen("vis_re", (t + col("ant1") * 3 + fine) % 7 === 3))
      .withColumn("vis_im", nullWhen("vis_im", (t * 5 + col("ant2") + fine) % 11 === 4))
      .withColumn("flag", nullWhen("flag", (t + col("ant2") * 2 + fine) % 9 === 2))
      .withColumn("nsample", nullWhen("nsample", (t * 3 + col("ant1") + fine) % 13 === 6))
      // a null freq_hz inside a series, a NaN series, and a series whose
      // first half is -0.0 Hz and second half 0.0 Hz (SQL = pairs them)
      .withColumn("freq_hz", when(baseline(0, 1) && fine === 2 && t % 4 === 1, lit(null))
        .when(baseline(0, 2) && fine === 3, lit(Double.NaN))
        .when(baseline(1, 2) && fine === 0 && t < spec.nTimes / 2, lit(-0.0))
        .when(baseline(1, 2) && fine === 0, lit(0.0))
        .otherwise(col("freq_hz")))
    // one-row series: a baseline of its own, and a frequency of its own in
    // a baseline that has other series
    val single = Seq(
      (spec.obsid, 0, 2460000.5, 7, 7, 77L, 0, spec.freq0Hz, "XX", 1.0, 2.0, false, 1.0),
      (spec.obsid, 3, 2460000.5, 2, 3, 23L, 0, 1.0, "XX", 1.0, 2.0, true, 1.0))
      .toDF(base.columns: _*)
    val vis = base.unionByName(single)
    val saved = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    // the fused (whole-stage codegen) pass and the row-iterator pass
    try for (codegen <- Seq("true", "false")) withClue(s"codegen $codegen: ") {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen)
      val d = VisOps.diff(vis)
      val oracle = MwaPipelineSpec.windowDiff(vis)
      assert(d.schema == oracle.schema)
      def same(a: DataFrame, b: DataFrame) = {
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
        // exceptAll groups -0.0 with 0.0; the strings tell them apart
        assert(a.collect().map(_.toString).sorted.toSeq == b.collect().map(_.toString).sorted.toSeq)
      }
      same(d, oracle)
      val fused = collect(d.queryExecution.executedPlan) {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec
          if w.child.exists(_.isInstanceOf[graft.plans.SeriesDiffExec]) => w
      }
      assert(fused.nonEmpty == codegen.toBoolean)
      // the data reach each case: -0.0 Hz pairs with 0.0 Hz, NaN with NaN
      assert(d.filter(col("freq_hz") === 0.0).count() == (spec.nTimes - 1L) * spec.pols.size)
      assert(d.filter(col("freq_hz").isNaN).count() == (spec.nTimes - 1L) * spec.pols.size)
      for (c <- Seq("vis_re", "vis_im", "flag", "nsample"))
        assert(!d.filter(col(c).isNull).isEmpty, c)
      // the exchange's 64 partitions coalesce, so a task diffs many series
      val coalesced = {
        d.collect()
        collect(d.queryExecution.executedPlan) {
          case r: org.apache.spark.sql.execution.adaptive.AQEShuffleReadExec
            if r.hasCoalescedPartition => r
        }
      }
      assert(coalesced.nonEmpty)
      // a filter above the diff reads the diffed columns, not the inputs
      for (f <- Seq(col("vis_re") > 0, col("flag"), col("nsample").isNull))
        withClue(f) { same(d.filter(f), oracle.filter(f)) }
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", saved)
      spark.conf.unset("spark.sql.codegen.wholeStage")
    }
  }

  test("INS reduces to (time, freq, pol) cells with baseline counts") {
    val cfg = GraftConfig(spectrumType = SpectrumType.Cross, removeFlaggedAnts = false)
    val insDf = VisOps.ins(VisOps.diff(VisOps.selectSurface(
      VisGenerator.vis(spark, spec), cfg)))
    val nCells = insDf.count()
    assert(nCells == (spec.nTimes - 1).toLong * spec.nCoarse * spec.nFine * spec.pols.size)
    // cross baselines of 6 ants = 15, nsample 1.0 each after diff-average
    val ns = insDf.select("nsamples").distinct().collect().map(_.getDouble(0))
    assert(ns.toSeq == Seq(15.0))
  }

  test("INS masked mean excludes flagged samples") {
    import spark.implicits._
    // two baselines at one (time,freq,pol): one flagged with huge amplitude
    val vis = Seq(
      (1L, 0, 2460000.5, 0, 1, 1L, 0, 1.3e8, "XX", 3.0, 4.0, false, 1.0),
      (1L, 0, 2460000.5, 0, 2, 2L, 0, 1.3e8, "XX", 3000.0, 4000.0, true, 1.0))
      .toDF("obsid", "time_idx", "time_jd", "ant1", "ant2", "baseline",
        "coarse_chan", "freq_hz", "pol", "vis_re", "vis_im", "flag", "nsample")
    val r = VisOps.ins(vis).head
    assert(r.getAs[Double]("metric") == 5.0)   // only the unflagged |3+4i|
    assert(r.getAs[Double]("nsamples") == 1.0) // flagged sample contributes 0
  }

  test("match filter flags exactly the planted RFI (tone edges + streak)") {
    val cfg = GraftConfig(spectrumType = SpectrumType.Cross, removeFlaggedAnts = false)
    val insDf = VisOps.ins(VisOps.diff(VisOps.selectSurface(
      VisGenerator.vis(spark, spec), cfg)))
    val flags = MatchFilter(insDf, cfg)
    val flagged = flags.filter(col("flagged"))
      .select("time_idx", "freq_hz", "pol", "event").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getString(2), r.getString(3)))

    val freqs = (0 until spec.nCoarse * spec.nFine)
      .map(i => spec.freq0Hz + i * spec.dfHz)
    val toneF = freqs(spec.rfiFreqIdx)
    // diff timeline: tone at source times [6,9] -> spikes at diff rows 5 and 9;
    // streak at source time 12 -> whole-band spikes at diff rows 11 and 12
    val expected = (for {
      pol <- spec.pols
      cell <- Seq((5, toneF, pol), (9, toneF, pol)) ++
        (for (t <- Seq(11, 12); f <- freqs) yield (t, f, pol))
    } yield cell).toSet
    assert(flagged.map(c => (c._1, c._2, c._3)).toSet == expected)
    // tone interior (diff rows 6-8) cancels and must stay unflagged
    assert(!flagged.exists(c => c._1 >= 6 && c._1 <= 8 && c._2 == toneF))
    // streak rows flagged by the streak shape, not narrow
    assert(flagged.filter(_._1 == 11).forall(_._4 == "streak"))
  }

  test("default config chain over raw gpubox files: no-data cells stay unflagged") {
    val fx = Fits.fixtureSpec
    val cfg = GraftConfig() // flag_init on: edge channels have no unflagged baseline
    val vis = spark.read.format("graft-vis").option("path", Fits.ensureFixture()).load()
    val insDf = VisOps.ins(VisOps.diff(VisOps.selectSurface(ReadOps.readChain(vis, cfg,
      ReadOps.FreqLayout(fx.freq0Hz, fx.dfHz, fx.nFine)), cfg)))
    val cells = Seq("obsid", "time_idx", "freq_hz", "pol")
    val flags = MatchFilter(insDf, cfg)
    assert(flags.count() == insDf.count())
    val noData = flags.join(insDf.filter(col("metric").isNull), cells)
    assert(!noData.isEmpty)
    assert(noData.filter(col("flagged") || col("event") =!= "").isEmpty)
  }

  test("select surface: cross/auto/pol/freq/ant filters") {
    val vis = VisGenerator.vis(spark, spec)
    val ants = VisGenerator.antennas(spark, spec)
    assert(VisOps.selectSurface(vis, GraftConfig(spectrumType = SpectrumType.Auto,
      removeFlaggedAnts = false))
      .filter(col("ant1") =!= col("ant2")).count() == 0)
    assert(VisOps.selectSurface(vis, GraftConfig(selPols = Seq("XX"),
      spectrumType = SpectrumType.All, removeFlaggedAnts = false))
      .select("pol").distinct().count() == 1)
    // remove_flagged_ants drops baselines touching the flagged antenna (5)
    val noFlagged = VisOps.selectSurface(vis, GraftConfig(
      spectrumType = SpectrumType.All), Some(ants))
    assert(noFlagged.filter(col("ant1") === 5 || col("ant2") === 5).count() == 0)
    // sel_ants keeps only baselines fully inside the list
    val sel = VisOps.selectSurface(vis, GraftConfig(selAnts = Seq(0, 1, 2),
      spectrumType = SpectrumType.All, removeFlaggedAnts = false))
    assert(sel.filter(col("ant1") > 2 || col("ant2") > 2).count() == 0)
    // freq_range F4
    val fr = VisOps.selectSurface(vis, GraftConfig(
      freqRange = Some((spec.freq0Hz, spec.freq0Hz + 3 * spec.dfHz)),
      spectrumType = SpectrumType.All, removeFlaggedAnts = false))
    assert(fr.select("freq_hz").distinct().count() == 4)
    // time_limit F5
    val tl = VisOps.selectSurface(vis, GraftConfig(timeLimit = Some(4),
      spectrumType = SpectrumType.All, removeFlaggedAnts = false))
    assert(tl.agg(max(col("time_idx"))).head.getInt(0) == 3)
  }

  test("time broadcast flags the remainder of a mostly-flagged time") {
    import MatchFilter.InsCell
    // 10 channels; channels 0..7 carry huge RFI at t=3 (each exceeds the
    // narrow threshold), channels 8,9 are clean -> after narrow flagging,
    // 8/10 > tb_aggro=0.6 flags the rest as time_broadcast
    val freqs = (0 until 10).map(f => 1e8 + f * 1e4)
    val cells = for (t <- 0 until 8; f <- 0 until 10) yield
      InsCell(1L, t, freqs(f), "XX",
        metric = if (t == 3 && f < 8) 100.0 else 1.0, nsamples = 16.0)
    // streak disabled (it would legitimately out-rank the narrows here)
    val out = MatchFilter.run(cells, GraftConfig(streak = 1e9)).toSeq
    val at3 = out.filter(_.time_idx == 3)
    assert(at3.forall(_.flagged))
    assert(at3.count(_.event == "time_broadcast") == 2)
    assert(out.filter(_.time_idx != 3).forall(!_.flagged))
  }

  test("named sub-band shape flags its span at the generic threshold") {
    import MatchFilter.InsCell
    val freqs = (0 until 16).map(f => 1e8 + f * 1e4)
    // moderate RFI spread over channels 4..7 at t=2: each z alone is below
    // narrow (7.0), but the 4-channel Stouffer combination exceeds the
    // generic threshold (5.0) for a shape covering that span
    val cells = for (t <- 0 until 8; f <- 0 until 16) yield
      InsCell(1L, t, freqs(f), "XX",
        metric = if (t == 2 && f >= 4 && f <= 7) 2.2 else 1.0, nsamples = 9.0)
    val cfgNoShape = GraftConfig()
    val none = MatchFilter.run(cells, cfgNoShape).toSeq
    assert(!none.exists(_.flagged)) // invisible without the shape
    val cfg = GraftConfig(shapes = Map("dtv" -> (freqs(4), freqs(7))))
    val out = MatchFilter.run(cells, cfg).toSeq
    val flagged = out.filter(_.flagged)
    assert(flagged.nonEmpty)
    assert(flagged.forall(c => c.time_idx == 2 &&
      c.freq_hz >= freqs(4) && c.freq_hz <= freqs(7)))
    assert(flagged.forall(_.event == "shape:dtv"))
  }

  test("batch-count formula parity (utils.py:20-47)") {
    assert(Model.computeOptimalBatches(1, availMemGb = 16) == 1)
    assert(Model.computeOptimalBatches(2, availMemGb = 16) == 1)
    assert(Model.computeOptimalBatches(3, availMemGb = 16) == 2) // 21//16=1 *2
    assert(Model.computeOptimalBatches(10, availMemGb = 16) == 8) // 70//16=4 *2
    intercept[IllegalArgumentException](Model.computeOptimalBatches(0, availMemGb = 16))
  }

  test("derived suffix parity (configurators.py:125-134)") {
    assert(GraftConfig().derivedSuffix == ".diff.cross")
    assert(GraftConfig(spectrumType = SpectrumType.All).derivedSuffix == ".diff")
    assert(GraftConfig(diff = false).derivedSuffix == ".cross")
    assert(GraftConfig(selAnts = Seq(7)).derivedSuffix == ".diff.cross.7")
    assert(GraftConfig(skipAnts = Seq(3)).derivedSuffix == ".diff.cross.no3")
    assert(GraftConfig(selPols = Seq("XX")).derivedSuffix == ".diff.cross.XX")
    assert(GraftConfig(suffix = ".x").derivedSuffix == ".diff.x")
  }

  test("suffixColumn matches derivedSuffix over the full branch product") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // every combination of the five branch inputs (type x diff x sel/skip
    // cardinality x pol cardinality x base), 216 configs — the relational
    // twin must agree with the typed API on all of them
    val types = Seq("all" -> SpectrumType.All, "auto" -> SpectrumType.Auto,
      "cross" -> SpectrumType.Cross)
    val grid = for {
      (tn, _) <- types
      diff <- Seq(true, false)
      sel <- Seq(Seq.empty[Int], Seq(4), Seq(1, 2))
      skip <- Seq(Seq.empty[Int], Seq(9))
      pols <- Seq(Seq.empty[String], Seq("YY"))
      base <- Seq("", ".b")
    } yield (tn, diff, sel, skip, pols, base)
    val withIds = grid.zipWithIndex.map { case ((tn, df, se, sk, po, ba), i) =>
      (i, tn, df, se, sk, po, ba)
    }
    val got = withIds
      .toDF("id", "stype", "diff", "sel", "skip", "pols", "base")
      .select(col("id"), Model.suffixColumn(col("stype"), col("diff"),
        col("sel"), col("skip"), col("pols"), col("base")).as("s"))
      .orderBy("id").collect().map(_.getString(1))
    val want = withIds.map { case (_, tn, df, se, sk, po, ba) =>
      GraftConfig(diff = df, selAnts = se, skipAnts = sk, selPols = po,
        suffix = ba, spectrumType = types.toMap.apply(tn)).derivedSuffix
    }
    assert(got.toSeq == want)
  }

  test("antenna dim derives from raw rfinputs: flag OR (C7) + prefix strip (C6)") {
    // raw layer: 2 rows/ant, un-stripped enum tokens, independent x/y bits
    val rf = VisGenerator.rfinputs(spark, spec)
    assert(rf.count() == spec.nAnts * 2L)
    assert(rf.select("rec_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("ReceiverType.RRI"))
    // the nAnts-1 flag bit sits on exactly ONE pol (X here: ant 5 is odd),
    // so antennas' flagged column is reachable only through the OR
    val bits = rf.filter(col("flagged"))
      .select("ant", "pol").collect().map(r => (r.getInt(0), r.getString(1)))
    assert(bits.toSeq == Seq((spec.nAnts - 1, "X")))
    val ants = VisGenerator.antennas(spark, spec)
    assert(ants.filter(col("flagged")).select("ant").collect()
      .map(_.getInt(0)).toSeq == Seq(spec.nAnts - 1))
    // ...and on the 7-ant spec the bit sits on Y (ant 6 is even) — the
    // other mixed branch of the OR
    val rf7 = VisGenerator.rfinputs(spark, spec.copy(nAnts = 7))
    assert(rf7.filter(col("flagged")).select("ant", "pol").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((6, "Y")))
    // C6: the derived dim carries the stripped form only
    assert(ants.select("rec_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("RRI"))
    // north_m at ant 0 must be POSITIVE zero bit-for-bit (round-11 red row)
    val n0 = ants.filter(col("ant") === 0).select("north_m").head.getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(n0) == 0L,
      s"north_m(0) must be +0.0, got bits ${java.lang.Double.doubleToRawLongBits(n0)}")
  }
}

object MwaPipelineSpec {

  /** The diff as a window of five `lead`s, the form `VisOps.diff` took
    * before its one-pass operator: the oracle it must equal. */
  def windowDiff(vis: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("obsid"),
      col("coarse_chan"), col("ant1"), col("ant2"), col("pol"))
      .orderBy(col("freq_hz"), col("time_idx"))
    vis
      .withColumn("__f2", lead(col("freq_hz"), 1).over(w))
      .withColumn("__re2", lead(col("vis_re"), 1).over(w))
      .withColumn("__im2", lead(col("vis_im"), 1).over(w))
      .withColumn("__fl2", lead(col("flag"), 1).over(w))
      .withColumn("__ns2", lead(col("nsample"), 1).over(w))
      .filter(col("__f2") === col("freq_hz"))
      .withColumn("vis_re", col("__re2") - col("vis_re"))
      .withColumn("vis_im", col("__im2") - col("vis_im"))
      .withColumn("flag", col("flag") || col("__fl2"))
      .withColumn("nsample", (col("nsample") + col("__ns2")) / 2)
      .drop("__f2", "__re2", "__im2", "__fl2", "__ns2")
  }
}
