package graft.mwa

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** SSINS match filter (SURVEY §2.8; public algorithm, Wilensky et al. 2019):
  * greedy iterate-to-fixpoint flagging of the z-scored INS.
  *
  * Shapes tested per time:
  *  - `narrow`  — a single fine channel   (threshold `config.narrow`, 7.0)
  *  - `streak`  — the whole band          (threshold `config.streak`, 8.0)
  * Each iteration flags the single most significant exceeding event, then
  * re-computes the per-frequency means over still-unflagged times (the
  * mean-subtraction shifts as RFI is removed), until nothing exceeds.
  * Afterwards, time broadcast: any time with more than `tb_aggro` of its
  * channels flagged is flagged entirely.
  *
  * Execution model: the INS is POST-REDUCTION data — Ntimes x Nfreqs per
  * (obsid, pol), thousands of cells even for a day of MWA data — so the
  * fixpoint runs inside `mapGroups` per (obsid, pol): one shuffle to group,
  * then a tight in-memory loop per group, no driver round-trips and no
  * lineage growth. This is the SURVEY §2.8 "single-pass flatMapGroups"
  * option; a 100 TB input reduces to the same tiny spectrum before ever
  * reaching this operator.
  */
object MatchFilter {

  final case class InsCell(obsid: Long, time_idx: Int, freq_hz: Double,
                           pol: String, metric: Double, nsamples: Double)
  final case class FlagCell(obsid: Long, time_idx: Int, freq_hz: Double,
                            pol: String, flagged: Boolean, event: String)

  /** Run the match filter over an INS DataFrame (output of VisOps.ins).
    * Returns one row per cell with its final flag and the event kind that
    * flagged it ("narrow", "streak", "time_broadcast" or ""). A null
    * metric (a cell with no unflagged baseline) becomes NaN, the value
    * `run` gives a cell with no data; such a cell is never flagged. */
  def apply(insDf: DataFrame, config: GraftConfig = GraftConfig()): DataFrame = {
    val spark = insDf.sparkSession
    import spark.implicits._
    val cells = insDf.select(
      col("obsid"), col("time_idx"), col("freq_hz"), col("pol"),
      coalesce(col("metric").cast("double"), lit(Double.NaN)).as("metric"),
      col("nsamples").cast("double")).as[InsCell]
    cells.groupByKey(c => (c.obsid, c.pol))
      .flatMapGroups((_: (Long, String), it: Iterator[InsCell]) => run(it.toSeq, config))
      .toDF()
  }

  /** In-memory greedy fixpoint for one (obsid, pol) spectrum. Shared by
    * the batch mapGroups path above and the streaming StatefulProcessor
    * (graft.streaming.StatefulOps.MatchFilterProcessor). */
  private[graft] def run(cellSeq: Seq[InsCell], config: GraftConfig): Iterator[FlagCell] = {
    val times = cellSeq.map(_.time_idx).distinct.sorted
    val freqs = cellSeq.map(_.freq_hz).distinct.sorted
    val tIdx = times.zipWithIndex.toMap
    val fIdx = freqs.zipWithIndex.toMap
    val nT = times.length
    val nF = freqs.length
    val metric = Array.fill(nT, nF)(Double.NaN)
    val nsamp = Array.fill(nT, nF)(0.0)
    val flag = Array.fill(nT, nF)(false)
    val event = Array.fill(nT, nF)("")
    cellSeq.foreach { c =>
      val t = tIdx(c.time_idx); val f = fIdx(c.freq_hz)
      metric(t)(f) = c.metric; nsamp(t)(f) = c.nsamples
    }
    // events flag only cells with data: a NaN cell saw no RFI
    def mark(t: Int, f: Int, kind: String): Unit =
      if (!flag(t)(f) && !metric(t)(f).isNaN) { flag(t)(f) = true; event(t)(f) = kind }

    // z-scores from the current mask: per freq, mean over unflagged times
    def zscores(): Array[Array[Double]] = {
      val z = Array.fill(nT, nF)(Double.NaN)
      var f = 0
      while (f < nF) {
        var sum = 0.0; var n = 0
        var t = 0
        while (t < nT) {
          if (!flag(t)(f) && !metric(t)(f).isNaN) { sum += metric(t)(f); n += 1 }
          t += 1
        }
        if (n > 0) {
          val mean = sum / n
          t = 0
          while (t < nT) {
            if (!flag(t)(f) && !metric(t)(f).isNaN && mean != 0.0)
              z(t)(f) = (metric(t)(f) / mean - 1.0) * math.sqrt(nsamp(t)(f))
            t += 1
          }
        }
        f += 1
      }
      z
    }

    var iterating = true
    var guard = 0
    while (iterating && guard < nT * nF + 8) {
      guard += 1
      val z = zscores()
      // best event: (significance, kind, t, f) — streak spans all channels
      var bestSig = Double.NegativeInfinity
      var bestKind = ""
      var bestT = -1; var bestF = -1
      var t = 0
      while (t < nT) {
        // narrow: single-channel exceedance vs `narrow` threshold
        var f = 0
        while (f < nF) {
          if (!z(t)(f).isNaN && z(t)(f) > config.narrow && z(t)(f) > bestSig) {
            bestSig = z(t)(f); bestKind = "narrow"; bestT = t; bestF = f
          }
          f += 1
        }
        // streak: whole-band combined z (Stouffer weighting, z_f weighted by
        // sqrt(nsamples)) vs `streak` threshold — a coherent broadband event
        // gains sqrt(Nchan) significance over its single channels, which is
        // what makes the shape test outrank per-channel narrow events
        var num = 0.0; var den = 0.0
        f = 0
        while (f < nF) {
          if (!z(t)(f).isNaN) {
            num += z(t)(f) * math.sqrt(nsamp(t)(f)); den += nsamp(t)(f)
          }
          f += 1
        }
        if (den > 0) {
          val sig = num / math.sqrt(den)
          if (sig > config.streak && sig > bestSig) {
            bestSig = sig; bestKind = "streak"; bestT = t; bestF = -1
          }
        }
        // named sub-band shapes (SSINS shape_dict): Stouffer-combined z
        // over the shape's channel span vs the generic `threshold`
        config.shapes.foreach { case (shapeName, (lo, hi)) =>
          var n2 = 0.0; var d2 = 0.0
          var fi = 0
          while (fi < nF) {
            if (freqs(fi) >= lo && freqs(fi) <= hi && !z(t)(fi).isNaN) {
              n2 += z(t)(fi) * math.sqrt(nsamp(t)(fi)); d2 += nsamp(t)(fi)
            }
            fi += 1
          }
          if (d2 > 0) {
            val sig = n2 / math.sqrt(d2)
            if (sig > config.threshold && sig > bestSig) {
              bestSig = sig; bestKind = s"shape:$shapeName"; bestT = t; bestF = -1
            }
          }
        }
        t += 1
      }
      if (bestKind == "") iterating = false
      else if (bestKind == "narrow") mark(bestT, bestF, "narrow")
      else if (bestKind == "streak") {
        var f = 0
        while (f < nF) { mark(bestT, f, "streak"); f += 1 }
      } else { // shape:<name> — flag only the shape's channel span
        val (lo, hi) = config.shapes(bestKind.stripPrefix("shape:"))
        var f = 0
        while (f < nF) {
          if (freqs(f) >= lo && freqs(f) <= hi) mark(bestT, f, bestKind)
          f += 1
        }
      }
    }

    // time broadcast (`tb_aggro`): mostly-flagged times flag entirely
    var t = 0
    while (t < nT) {
      var nf = 0; var f = 0
      while (f < nF) { if (flag(t)(f)) nf += 1; f += 1 }
      if (nf.toDouble / nF > config.tbAggro && nf < nF) {
        f = 0
        while (f < nF) { mark(t, f, "time_broadcast"); f += 1 }
      }
      t += 1
    }

    val obsid = cellSeq.head.obsid
    val pol = cellSeq.head.pol
    (for {
      ti <- times.indices.iterator
      fi <- freqs.indices
    } yield FlagCell(obsid, times(ti), freqs(fi), pol, flag(ti)(fi), event(ti)(fi)))
  }
}
