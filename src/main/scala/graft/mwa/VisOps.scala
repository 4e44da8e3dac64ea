package graft.mwa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The visibility-processing surface: select filters (F1-F8), the
  * sky-subtraction diff (W1), the incoherent noise spectrum reduction (G6)
  * and the mean-subtracted z-score (W2).
  *
  * Scale design: the diff window W1 partitions by (obsid, coarse_chan,
  * ant1, ant2, pol) and orders by (freq_hz, time_idx); the INS groupBy keys
  * on (obsid, coarse_chan, time, freq, pol). coarse_chan is a function of
  * freq_hz, so neither extra key changes a result, but both let Spark use
  * the layout a source reports. The `graft-vis` scan plans one split per
  * (file, coarse channel) in every format (a gpubox file holds one
  * (obsid, coarse_chan), SURVEY §1.3; a uvfits or uvh5 file all of an
  * observation's), reports its splits key-grouped on those two columns,
  * and each split's rows in W1's order. So on raw input W1 and the INS run
  * in the scan's tasks with no exchange and no sort: scan, filter, window,
  * then the partial and final aggregates. Two files of one (obsid,
  * coarse_chan) bring the sort back (Spark drops a reported order when a
  * key group holds more than one split). Over the Parquet `VisStore` or a
  * generated frame nothing reports a layout: W1 hash-shuffles and sorts
  * every visibility, and the INS shuffles again, carrying only partial
  * aggregates. The INS reduction collapses
  * |baselines| x rows into (time, freq, pol) cells; the z-score (W2)
  * shuffles that reduced spectrum.
  */
object VisOps {

  /** pyuvdata-select surface (F1-F8, configured at `configurators.py:73-78`
    * and applied via kwargs_for_select). All plain pushdown-able filters. */
  def selectSurface(vis: DataFrame, config: GraftConfig,
                    antennaDim: Option[DataFrame] = None): DataFrame = {
    var df = vis
    if (config.selAnts.nonEmpty) // F1: both ants in list
      df = df.filter(col("ant1").isin(config.selAnts: _*) &&
        col("ant2").isin(config.selAnts: _*))
    if (config.skipAnts.nonEmpty) // F2: neither ant in list
      df = df.filter(!col("ant1").isin(config.skipAnts: _*) &&
        !col("ant2").isin(config.skipAnts: _*))
    if (config.selPols.nonEmpty) // F3
      df = df.filter(col("pol").isin(config.selPols: _*))
    config.freqRange.foreach { case (lo, hi) => // F4
      df = df.filter(col("freq_hz").between(lo, hi))
    }
    config.timeLimit.foreach { n => // F5: first N distinct times
      // time_idx is the dense time ordinal (0-based) in the vis schema, so
      // "first N distinct times" is a pushdown-able comparison — no global
      // dense_rank window (which would single-partition at scale)
      df = df.filter(col("time_idx") < n)
    }
    if (config.removeFlaggedAnts) antennaDim.foreach { ants => // F6 anti-join
      val flagged = broadcast(ants.filter(col("flagged")).select(col("ant").as("__fa")))
      df = df.join(flagged, col("ant1") === col("__fa") || col("ant2") === col("__fa"),
        "left_anti")
    }
    config.spectrumType match { // F8
      case SpectrumType.Cross => df = df.filter(col("ant1") =!= col("ant2"))
      case SpectrumType.Auto  => df = df.filter(col("ant1") === col("ant2"))
      case SpectrumType.All   => ()
    }
    df
  }

  /** W1 — sky-subtraction first difference along time per (baseline, freq,
    * pol): V'(t_i) = V(t_{i+1}) - V(t_i); diffed flag = flag(t) OR
    * flag(t+1); nsample averaged. The last time per series (no successor)
    * is dropped. Cancels the static sky; noise + transient RFI remain.
    * (`diff` read option, `configurators.py:66`; executed in SSINS.)
    *
    * The window holds one (baseline, pol)'s rows, ordered by (freq_hz,
    * time_idx): a row's successor there is the next time of its own series
    * unless it is the series' last, where the successor's freq_hz differs
    * (or there is none). freq_hz is an order key, not a partition key,
    * because Spark normalizes a floating-point partition key and no order a
    * source reports can then satisfy the window's sort. */
  def diff(vis: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("obsid"), col("coarse_chan"), col("ant1"),
      col("ant2"), col("pol")).orderBy(col("freq_hz"), col("time_idx"))
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

  /** G6 — Incoherent Noise Spectrum: mean over unflagged baselines of |V|
    * per (time, freq, pol), plus the contributing sample count. The
    * grouping also keys on coarse_chan, then drops it, so the output is
    * (obsid, time_idx, freq_hz, pol, metric, nsamples).
    * (SSINS public semantics, Wilensky et al. 2019, PASP 131:114507.) */
  def ins(vis: DataFrame): DataFrame =
    vis.groupBy(col("obsid"), col("coarse_chan"), col("time_idx"), col("freq_hz"),
        col("pol"))
      .agg(
        avg(when(!col("flag"),
          sqrt(col("vis_re") * col("vis_re") + col("vis_im") * col("vis_im"))))
          .as("metric"),
        sum(when(!col("flag"), col("nsample")).otherwise(0.0)).as("nsamples"))
      .drop("coarse_chan")

  /** W2 — mean-subtracted z-score: z = (metric / mean_t(metric) - 1) *
    * sqrt(nsamples), the SSINS `mean_subtract` shape the match filter
    * thresholds against. Mean is over unflagged times per (freq, pol). */
  def zscore(insDf: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("obsid"), col("freq_hz"), col("pol"))
    insDf
      .withColumn("__mean", avg(col("metric")).over(w))
      .withColumn("z",
        (col("metric") / col("__mean") - 1) * sqrt(col("nsamples")))
      .drop("__mean")
  }

  /** Per-signal-chain (per-antenna) amplitude spectrum — the `sigchain`
    * plot-type projection (`configurators.py:94-97`) in tidy form: every
    * visibility attributes its amplitude to BOTH of its antennas (once for
    * autos), then mean |V| over unflagged contributions per (ant, freq,
    * pol). Scale shape: the explode doubles rows before ONE hash
    * aggregation with map-side partial combine — no window, no self-join. */
  def sigchainSpectrum(vis: DataFrame): DataFrame =
    vis.select(col("obsid"),
        explode(array_distinct(array(col("ant1"), col("ant2")))).as("ant"),
        col("freq_hz"), col("pol"), col("flag"), col("vis_re"), col("vis_im"))
      .groupBy(col("obsid"), col("ant"), col("freq_hz"), col("pol"))
      .agg(
        avg(when(!col("flag"),
          sqrt(col("vis_re") * col("vis_re") + col("vis_im") * col("vis_im"))))
          .as("metric"),
        sum(when(!col("flag"), lit(1)).otherwise(0)).cast("double").as("nsamples"))

  /** The full chain: select -> diff -> INS -> z-score. */
  def spectrum(vis: DataFrame, config: GraftConfig,
               antennaDim: Option[DataFrame] = None): DataFrame = {
    val selected = selectSurface(vis, config, antennaDim)
    val diffed = if (config.diff) diff(selected) else selected
    zscore(ins(diffed))
  }
}
