package graft.mwa

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The remaining `kwargs_for_read` behaviors (`configurators.py:216-225`)
  * as executable vis transforms — in the reference these run inside
  * pyuvdata/SSINS during the read; here they are declarative stages
  * applied between the scan and the select surface.
  *
  * Channel positions are derived arithmetically from the frequency axis
  * (`fine_pos = round((freq_hz - freq0) / df) mod nFine`) — a pure column
  * expression, no shuffle — so every stage stays a scan-side map.
  */
object ReadOps {

  final case class FreqLayout(freq0Hz: Double, dfHz: Double, nFine: Int)

  def finePos(layout: FreqLayout): Column =
    pmod(round((col("freq_hz") - layout.freq0Hz) / layout.dfHz, 0).cast("long"),
      lit(layout.nFine)).cast("int")

  /** `flag_init` (MWA convention, public SSINS/pyuvdata semantics): flag
    * the fine channel at each coarse-band edge, the coarse-band center
    * fine channel, and the first integration — the samples known a-priori
    * to be corrupted by the polyphase filterbank roll-off and receiver
    * settling. */
  def flagInit(vis: DataFrame, layout: FreqLayout): DataFrame = {
    val pos = finePos(layout)
    val edge = pos === 0 || pos === layout.nFine - 1
    vis.withColumn("flag",
      col("flag") || edge || pos === layout.nFine / 2 || col("time_idx") < 1)
  }

  /** `flag_choice`: "original" keeps the flags that came with the data;
    * None clears them before analysis (SSINS semantics). */
  def applyFlagChoice(vis: DataFrame, choice: Option[String]): DataFrame =
    choice match {
      case Some("original") => vis
      case None => vis.withColumn("flag", lit(false))
      case Some(other) =>
        throw new IllegalArgumentException(s"Unknown flag_choice: $other")
    }

  /** `remove_coarse_band`: divide out the coarse-band shape — the
    * per-fine-position gain template of the polyphase filterbank. The
    * template is estimated from the data itself (mean unflagged amplitude
    * per fine position, normalized to unit mean) and applied with a
    * broadcast join: one tiny aggregation + a map stage, no wide shuffle
    * of the vis table. */
  def removeCoarseBand(vis: DataFrame, layout: FreqLayout): DataFrame = {
    val withPos = vis.withColumn("__pos", finePos(layout))
    val amp = sqrt(col("vis_re") * col("vis_re") + col("vis_im") * col("vis_im"))
    val template = withPos
      .groupBy("__pos")
      .agg(avg(when(!col("flag"), amp)).as("__gain"))
    val meanGain = template.agg(avg("__gain")).head().getDouble(0)
    withPos
      .join(broadcast(template), Seq("__pos"))
      .withColumn("__g", col("__gain") / meanGain)
      .withColumn("vis_re", col("vis_re") / col("__g"))
      .withColumn("vis_im", col("vis_im") / col("__g"))
      .drop("__pos", "__gain", "__g")
  }

  /** `correct_van_vleck`: quantization-bias correction for few-bit
    * correlators (the read option the reference enables at
    * `configurators.py:220`), per the published Van Vleck arcsine law
    * (Van Vleck & Middleton 1966, Proc. IEEE 54:2): a hard quantizer
    * measures r = (2/pi)*arcsin(rho) of the true normalized correlation
    * rho, so the correction inverts it on the normalized coefficient:
    *
    *   rho_hat = c_ij / sqrt(c_ii * c_jj)   (normalize by the autos)
    *   c_ij'   = sin(pi/2 * rho_hat) * sqrt(c_ii * c_jj)
    *
    * applied to the real and imaginary components independently; autos are
    * their own normalizer and pass through unchanged. Rows whose autos are
    * missing or non-positive (pure-noise fixtures) keep the raw value.
    *
    * CONTRACT NOTE: this is the 1-bit (hard-quantizer) law. pyuvdata's
    * `mwa_corr_fits` implements the multi-level 4+4-bit integer-quantizer
    * correction instead, whose bias is far smaller — on many-level data
    * the arcsine form OVER-corrects weak coefficients by up to pi/2
    * (ReadOpsSpec pins both the exact 1-bit inversion and this divergence
    * factor). The true MWA integer-level curve is deliberately out of
    * scope: no pyuvdata reference outputs are available offline to
    * certify an implementation against (the ms-descope evidence bar).
    *
    * Scale shape: the auto table is |ants|/|baselines| ~ 2/n_ants of the
    * vis table — NOT broadcastable at scale (it grows with times x freqs)
    * — so both joins are equi shuffle joins on (obsid, time, freq, pol
    * [, ant]); partial-agg-free, no window, codegen-friendly sin/sqrt. */
  def correctVanVleck(vis: DataFrame): DataFrame = {
    val keys = Seq("obsid", "time_idx", "freq_hz", "pol")
    val autos = vis.filter(col("ant1") === col("ant2"))
      .select(keys.map(col) ++ Seq(col("ant1").as("__ant"), col("vis_re").as("__p")): _*)
    val a1 = autos.withColumnRenamed("__ant", "ant1").withColumnRenamed("__p", "__p1")
    val a2 = autos.withColumnRenamed("__ant", "ant2").withColumnRenamed("__p", "__p2")
    val joined = vis
      .join(a1, keys :+ "ant1", "left")
      .join(a2, keys :+ "ant2", "left")
    val norm = sqrt(col("__p1") * col("__p2"))
    // clamp the measured coefficient into the quantizer's [-1, 1] range
    // before inverting (noise can push |rho_hat| past 1, where sin folds);
    // portable_sin keeps the correction bit-reproducible across executors,
    // JIT tiers and engines (libm sin implementations differ by 1 ulp)
    def corrected(c: Column): Column =
      graft.functions.ArrayExprs.portable_sin(
        lit(math.Pi / 2) * greatest(lit(-1.0), least(lit(1.0), c / norm))) * norm
    val applicable = col("ant1") =!= col("ant2") &&
      col("__p1").isNotNull && col("__p1") > 0 &&
      col("__p2").isNotNull && col("__p2") > 0
    joined
      .withColumn("vis_re", when(applicable, corrected(col("vis_re")))
        .otherwise(col("vis_re")))
      .withColumn("vis_im", when(applicable, corrected(col("vis_im")))
        .otherwise(col("vis_im")))
      .drop("__p1", "__p2")
  }

  /** The full read chain in the reference's kwargs_for_read order:
    * flag_choice -> flag_init -> van-vleck -> coarse-band removal. The
    * select surface and diff follow (VisOps). */
  def readChain(vis: DataFrame, config: GraftConfig, layout: FreqLayout): DataFrame = {
    var df = applyFlagChoice(vis, config.flagChoice)
    if (config.flagInit) df = flagInit(df, layout)
    if (config.correctVanVleck) df = correctVanVleck(df)
    if (config.removeCoarseBand) df = removeCoarseBand(df, layout)
    df
  }
}
