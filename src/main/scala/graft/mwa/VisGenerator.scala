package graft.mwa

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic MWA-shaped synthetic visibility generator (FIXTURES.md B.1).
  *
  * Everything is derived from xxhash64 of the row coordinates + a seed, so
  * the data is identical across executors, runs and cluster sizes — no RNG
  * state, no driver-side materialization; generation itself distributes
  * (spark.range cross-joined dimension tables).
  *
  * Planted structure:
  *  - constant "sky" per (baseline, freq, pol) — must vanish under diff W1;
  *  - Gaussian noise (Box-Muller over two hash-uniforms), sigma = 1;
  *  - narrowband RFI tone: `rfiAmp` added at one freq for a run of times;
  *  - broadband streak: `streakAmp` added at every freq of one time.
  */
object VisGenerator {

  final case class Spec(
      obsid: Long = 1234567890L,
      nTimes: Int = 16,
      nAnts: Int = 6,
      nCoarse: Int = 2,
      nFine: Int = 8,
      pols: Seq[String] = Seq("XX", "YY"),
      seed: Long = 42L,
      noiseSigma: Double = 1.0,
      // multiplicative coarse-band ripple: gain(pos) = 1 + r*sin(pi*pos/(nFine-1))
      bandRipple: Double = 0.0,
      skyAmp: Double = 50.0,
      rfiAmp: Double = 40.0,
      streakAmp: Double = 60.0,
      // narrow tone: fine-channel index (global), inclusive time span
      rfiFreqIdx: Int = 5,
      rfiTimes: (Int, Int) = (6, 9),
      streakTime: Int = 12,
      jd0: Double = 2460000.5,
      dtDays: Double = 2.0 / 86400.0,
      freq0Hz: Double = 1.3e8,
      dfHz: Double = 40000.0)

  /** hash-derived uniform in (0,1): 20 bits of xxhash64. */
  private def uniform(seed: Long, salt: Int, keys: Column*): Column =
    (pmod(xxhash64(lit(seed) +: lit(salt) +: keys: _*), lit(1048576L)).cast("double") + 0.5) /
      lit(1048576.0)

  /** hash-derived standard Gaussian (Box-Muller). */
  private def gaussian(seed: Long, salt: Int, keys: Column*): Column =
    sqrt(lit(-2.0) * log(uniform(seed, salt * 2 + 1, keys: _*))) *
      cos(lit(2.0 * math.Pi) * uniform(seed, salt * 2 + 2, keys: _*))

  /** The visibility fact table, one row per (time, baseline, freq, pol).
    * Partition-friendly: derived from range cross-joins, so Spark
    * parallelizes generation over the time axis. */
  def vis(spark: SparkSession, spec: Spec = Spec()): DataFrame = {
    val times = spark.range(spec.nTimes).select(
      col("id").cast("int").as("time_idx"),
      (lit(spec.jd0) + col("id") * spec.dtDays).as("time_jd"))
    val ants = spark.range(spec.nAnts).select(col("id").cast("int").as("ant1"))
    val ants2 = spark.range(spec.nAnts).select(col("id").cast("int").as("ant2"))
    val baselines = ants.crossJoin(ants2).filter(col("ant1") <= col("ant2"))
      .withColumn("baseline", col("ant1").cast("long") * 2048 + col("ant2"))
    val freqs = spark.range(spec.nCoarse.toLong * spec.nFine).select(
      col("id").cast("int").as("freq_idx"),
      (col("id") / spec.nFine).cast("int").as("coarse_chan"),
      (lit(spec.freq0Hz) + col("id") * spec.dfHz).as("freq_hz"))
    val pols = spark.createDataFrame(spec.pols.map(Tuple1(_))).toDF("pol")

    val grid = times.crossJoin(baselines).crossJoin(freqs).crossJoin(pols)
    val k = Seq(col("baseline"), col("freq_idx"), col("pol"))
    val kt = col("time_idx") +: k
    val sky = uniform(spec.seed, 1, k: _*) * spec.skyAmp
    val narrow = when(col("freq_idx") === spec.rfiFreqIdx &&
      col("time_idx").between(spec.rfiTimes._1, spec.rfiTimes._2), spec.rfiAmp)
      .otherwise(0.0)
    val streak = when(col("time_idx") === spec.streakTime, spec.streakAmp).otherwise(0.0)
    val gain = lit(1.0) + lit(spec.bandRipple) *
      sin(lit(math.Pi) * (col("freq_idx") % spec.nFine) / (spec.nFine - 1))
    grid.select(
      lit(spec.obsid).as("obsid"),
      col("time_idx"), col("time_jd"), col("ant1"), col("ant2"), col("baseline"),
      col("coarse_chan"), col("freq_hz"), col("pol"),
      (gain * (sky + narrow + streak + gaussian(spec.seed, 3, kt: _*) * spec.noiseSigma)).as("vis_re"),
      (gain * (sky + narrow + streak + gaussian(spec.seed, 5, kt: _*) * spec.noiseSigma)).as("vis_im"),
      lit(false).as("flag"),
      lit(1.0).as("nsample"))
  }

  /** Portable deterministic variant for cross-engine oracle checking
    * (FIXTURES.md B.1 companion): every value is a dyadic rational with
    * denominator 64 derived from integer arithmetic on the coordinates, and
    * vis_im = 0 so |V| = sqrt(vis_re^2) is exact (IEEE sqrt of a perfect
    * square). Downstream sums of these values are therefore EXACT in
    * double — order-independent across any partitioning — and the only
    * inexact steps in diff -> INS -> z are single correctly-rounded
    * divisions, which are bit-identical in every IEEE engine. This lets a
    * DuckDB SQL oracle certify the full spectrum chain with NO rounding.
    * Planted structure (narrow tone, broadband streak) matches vis(). */
  def portable(spark: SparkSession, spec: Spec = Spec(nTimes = 17, nAnts = 16)): DataFrame = {
    val times = spark.range(spec.nTimes).select(
      col("id").cast("int").as("time_idx"),
      (lit(spec.jd0) + col("id") * spec.dtDays).as("time_jd"))
    val ants = spark.range(spec.nAnts).select(col("id").cast("int").as("ant1"))
    val ants2 = spark.range(spec.nAnts).select(col("id").cast("int").as("ant2"))
    val baselines = ants.crossJoin(ants2).filter(col("ant1") <= col("ant2"))
      .withColumn("baseline", col("ant1").cast("long") * 2048 + col("ant2"))
    val freqs = spark.range(spec.nCoarse.toLong * spec.nFine).select(
      col("id").cast("int").as("freq_idx"),
      (col("id") / spec.nFine).cast("int").as("coarse_chan"),
      (lit(spec.freq0Hz) + col("id") * spec.dfHz).as("freq_hz"))
    val pols = spark.createDataFrame(spec.pols.zipWithIndex).toDF("pol", "pol_idx")

    val grid = times.crossJoin(baselines).crossJoin(freqs).crossJoin(pols)
    val sky = pmod(col("ant1") * 7 + col("ant2") * 11 + col("freq_idx") * 3 +
      col("pol_idx") * 17, lit(64)).cast("double")
    val noise = (pmod(col("time_idx") * 37 + col("ant1") * 13 + col("ant2") * 29 +
      col("freq_idx") * 53 + col("pol_idx") * 71, lit(128)) - 64).cast("double") / 64.0
    val narrow = when(col("freq_idx") === spec.rfiFreqIdx &&
      col("time_idx").between(spec.rfiTimes._1, spec.rfiTimes._2), spec.rfiAmp)
      .otherwise(0.0)
    val streak = when(col("time_idx") === spec.streakTime, spec.streakAmp).otherwise(0.0)
    grid.select(
      lit(spec.obsid).as("obsid"),
      col("time_idx"), col("time_jd"), col("ant1"), col("ant2"), col("baseline"),
      col("coarse_chan"), col("freq_hz"), col("pol"),
      (sky + narrow + streak + noise).as("vis_re"),
      lit(0.0).as("vis_im"),
      lit(false).as("flag"),
      lit(1.0).as("nsample"))
  }

  /** Baselines in the on-disk writers' order: ant1-major, ant1 <= ant2. */
  def baselinePairs(nAnts: Int): IndexedSeq[(Int, Int)] =
    for (a1 <- 0 until nAnts; a2 <- a1 until nAnts) yield (a1, a2)

  /** One cell of [[portable]]: global freq index, pol index, vis_re. */
  final case class PortableCell(ant1: Int, ant2: Int, freqIdx: Int, polIdx: Int,
                                re: Double)

  /** [[portable]]'s values at integration `t`, computed in plain Scala for
    * the on-disk writers (gpubox FITS, uvfits, uvh5), in their row order:
    * baselines (see [[baselinePairs]]), then the global freq indices
    * `freqs`, then pols. Every value is dyadic over 64ths, so it is exact
    * in float32 too. */
  def portableCells(spec: Spec, t: Int, freqs: Range): Iterator[PortableCell] =
    for {
      (a1, a2) <- baselinePairs(spec.nAnts).iterator
      f <- freqs.iterator
      pi <- spec.pols.indices.iterator
    } yield {
      val sky = Math.floorMod(a1 * 7 + a2 * 11 + f * 3 + pi * 17, 64).toDouble
      val noise =
        (Math.floorMod(t * 37 + a1 * 13 + a2 * 29 + f * 53 + pi * 71, 128) - 64)
          .toDouble / 64.0
      val narrow = if (f == spec.rfiFreqIdx &&
        t >= spec.rfiTimes._1 && t <= spec.rfiTimes._2) spec.rfiAmp else 0.0
      val streak = if (t == spec.streakTime) spec.streakAmp else 0.0
      PortableCell(a1, a2, f, pi, sky + narrow + streak + noise)
    }

  /** Portable variant with a PLANTED MULTIPLICATIVE BANDPASS whose
    * data-estimated removal is IEEE-exact end to end, so the full
    * remove_coarse_band chain can be certified bit-for-bit by a SQL oracle
    * (mwa07). Construction: gain(pos) alternates {1, 3} over the fine
    * position (mean = 2, a power of two); the ungained value is
    * v = 2 + s(t)*d(bl,pol) + streak with s(t) = +-1 alternating over an
    * EVEN number of times (sign-paired, so sum_t s(t) = 0 exactly) and
    * streak/nTimes = 60/16 dyadic. Then every per-position mean amplitude
    * is exactly gain*5.75, the template mean is exactly 11.5, the
    * normalized gain divides out exactly (corrected = 2v, dyadic), and
    * every downstream diff/INS/z step stays order-independent exact. */
  def portableBandpass(spark: SparkSession,
                       spec: Spec = Spec(nTimes = 16, nAnts = 4)): DataFrame = {
    require(spec.nTimes % 2 == 0, "sign-pairing needs an even nTimes")
    require(spec.nFine % 2 == 0, "gain alternation needs an even nFine")
    val times = spark.range(spec.nTimes).select(
      col("id").cast("int").as("time_idx"),
      (lit(spec.jd0) + col("id") * spec.dtDays).as("time_jd"))
    val ants = spark.range(spec.nAnts).select(col("id").cast("int").as("ant1"))
    val ants2 = spark.range(spec.nAnts).select(col("id").cast("int").as("ant2"))
    val baselines = ants.crossJoin(ants2).filter(col("ant1") <= col("ant2"))
      .withColumn("baseline", col("ant1").cast("long") * 2048 + col("ant2"))
    val freqs = spark.range(spec.nCoarse.toLong * spec.nFine).select(
      col("id").cast("int").as("freq_idx"),
      (col("id") / spec.nFine).cast("int").as("coarse_chan"),
      (lit(spec.freq0Hz) + col("id") * spec.dfHz).as("freq_hz"))
    val pols = spark.createDataFrame(spec.pols.zipWithIndex).toDF("pol", "pol_idx")

    val grid = times.crossJoin(baselines).crossJoin(freqs).crossJoin(pols)
    val gain = (lit(1) + (col("freq_idx") % spec.nFine) % 2 * 2).cast("double")
    val sign = when(col("time_idx") % 2 === 0, 1.0).otherwise(-1.0)
    val d = pmod(col("ant1") * 13 + col("ant2") * 29 + col("pol_idx") * 71,
      lit(64)).cast("double") / 64.0
    val streak = when(col("time_idx") === spec.streakTime, spec.streakAmp).otherwise(0.0)
    grid.select(
      lit(spec.obsid).as("obsid"),
      col("time_idx"), col("time_jd"), col("ant1"), col("ant2"), col("baseline"),
      col("coarse_chan"), col("freq_hz"), col("pol"),
      (gain * (lit(2.0) + sign * d + streak)).as("vis_re"),
      lit(0.0).as("vis_im"),
      lit(false).as("flag"),
      lit(1.0).as("nsample"))
  }

  /** Coarse-channel dimension matching the generated freq axis
    * (schema: `utils.py:136-142`), built as local rows on the driver. */
  def channels(spark: SparkSession, spec: Spec = Spec()): DataFrame = {
    import spark.implicits._
    val width = spec.nFine * spec.dfHz
    (0 until spec.nCoarse).map { i =>
      val start = spec.freq0Hz + i * width
      (spec.obsid, i + 1, i, start, start + width / 2, spec.freq0Hz + (i + 1) * width)
    }.toDF("obsid", "gpubox_number", "rec_chan_number", "chan_start_hz", "chan_centre_hz",
      "chan_end_hz")
  }

  /** Raw per-rfinput layer (two rows per antenna, pol X and Y) — the
    * mwalib shape `utils.py:157-168` reads from: receiver fields live on
    * the rfinput, `rec_type` carries the un-stripped enum token
    * `ReceiverType.RRI`, and the x/y flag bits are INDEPENDENT. The
    * antenna-level `flagged` must be DERIVED as `fx || fy`
    * (`utils.py:160`), and `rec_type` by stripping the enum prefix
    * (`utils.py:166-168`) — see [[antennas]]. The flag pattern puts the
    * nAnts-1 bit on exactly one pol (X for odd ant index, Y for even), so
    * the OR is load-bearing: dropping either side of it loses the flag and
    * fails the mwa23 gate, while the derived antenna-level set stays
    * `{nAnts-1}` for every spec (downstream F6 row sets unchanged). */
  def rfinputs(spark: SparkSession, spec: Spec = Spec()): DataFrame =
    spark.range(spec.nAnts)
      .crossJoin(spark.range(2).select(
        when(col("id") === 0, "X").otherwise("Y").as("pol")))
      .select(
        lit(spec.obsid).as("obsid"),
        col("id").cast("int").as("ant"),
        col("pol"),
        (col("id") === spec.nAnts - 1 &&
          when(col("pol") === "X", col("id") % 2 === 1)
            .otherwise(col("id") % 2 === 0)).as("flagged"),
        (col("id") % 8 + 1).cast("int").as("rec_number"),
        lit("RG6_90").as("flavour"),
        (col("id") % 2 === 0).as("has_whitening_filter"),
        lit("ReceiverType.RRI").as("rec_type"))

  /** Antenna dimension (schema: `utils.py:150-168`), DERIVED from the raw
    * rfinput layer exactly as the reference derives it: `flagged` is the
    * OR of the x and y flag bits (`utils.py:160`), receiver fields come
    * from the X row ("assuming it's the same as rfinput_y",
    * `utils.py:161-164`), and `rec_type` strips the `ReceiverType.` enum
    * prefix (`utils.py:166-168`). Geometry columns are per-antenna;
    * `north_m` is written as `0.0 - ant*2.0` (not `ant * -2.0`) so ant 0
    * yields +0.0 — the JVM's `0 * -2.0` is IEEE -0.0, which hash-diverges
    * from SQL engines that produce +0.0 (the round-11 mwa23 red row). */
  def antennas(spark: SparkSession, spec: Spec = Spec()): DataFrame =
    rfinputs(spark, spec)
      .groupBy(col("obsid"), col("ant"))
      .agg(
        bool_or(col("flagged")).as("flagged"),
        first(when(col("pol") === "X", col("rec_number")),
          ignoreNulls = true).as("rec_number"),
        first(when(col("pol") === "X", col("flavour")),
          ignoreNulls = true).as("flavour"),
        first(when(col("pol") === "X", col("has_whitening_filter")),
          ignoreNulls = true).as("has_whitening_filter"),
        // literal substring replace (not an anchored regexp): the reference
        // does str.replace("ReceiverType.", "") which removes the literal
        // token ANYWHERE in the string — identical on real enum reprs, but
        // the literal form is the exact transform (utils.py:166-168)
        replace(
          first(when(col("pol") === "X", col("rec_type")),
            ignoreNulls = true),
          lit("ReceiverType."), lit("")).as("rec_type"))
      .select(
        col("obsid"),
        col("ant"),
        (col("ant") + 11).cast("int").as("tile_id"),
        concat(lit("Tile"), format_string("%03d", col("ant"))).as("tile_name"),
        (col("ant") * 10.0 + 100.0).as("electrical_length_m"),
        (col("ant") * 3.0).as("east_m"),
        (lit(0.0) - col("ant") * 2.0).as("north_m"),
        lit(377.0).as("height_m"),
        col("flagged"),
        col("rec_number"),
        col("flavour"),
        col("has_whitening_filter"),
        col("rec_type"))
}
