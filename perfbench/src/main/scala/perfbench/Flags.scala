package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.mwa._

/** The paper's workload as a user runs it: raw files in, flags out.
  *
  * One pass = manifest + validation -> scan (gpubox decode, or the
  * mediated Parquet store) -> ReadOps.readChain -> select surface -> diff
  * -> INS -> MatchFilter -> flags written as Parquet. */
final class FlagsWorkload(parquet: Boolean, spec: VisGenerator.Spec, work: Path)
    extends Workload {
  private val raw = work.resolve("raw")
  private val store = work.resolve("store")
  private val out = work.resolve("flags")
  private val metafitsName = s"${spec.obsid}.metafits"
  /** GraftConfig defaults except flag_init, which crashes MatchFilter (the
    * probe below records that defect on every run). */
  private val cfg = GraftConfig(flagInit = false)
  private var mediateS = 0.0

  override def rowsPerPass: Long =
    spec.nTimes.toLong * spec.nAnts * (spec.nAnts + 1) / 2 *
      spec.nCoarse * spec.nFine * spec.pols.size

  private def inputBytes: Long = Util.dirBytes(if (parquet) store else raw)

  override def prepare(): Unit = {
    Fits.writeVis(raw, spec)
    Files.write(raw.resolve(metafitsName), Fits.primary(Seq(
      Fits.cardInt("OBSID", spec.obsid), Fits.cardInt("NCOARSE", spec.nCoarse),
      Fits.cardInt("NFINE", spec.nFine), Fits.cardDouble("FREQ0", spec.freq0Hz),
      Fits.cardDouble("DFHZ", spec.dfHz))))
  }

  private def gpubox(spark: SparkSession): DataFrame =
    spark.read.format("graft-vis").option("path", raw.toString).load()

  /** Mediation into VisStore's (obsid, coarse_chan)-partitioned Parquet,
    * once per input set. */
  private def mediate(spark: SparkSession): Unit =
    if (!Files.exists(store)) {
      mediateS = Util.time(VisStore.write(gpubox(spark), store.toString))._2
    }

  override def prep(spark: SparkSession): Unit = if (parquet) mediate(spark)

  /** Manifest + validation, the glue before the scan; the frequency layout
    * comes from the metafits keywords. */
  private def manifest(spark: SparkSession): (DataFrame, ReadOps.FreqLayout) = {
    val m = Manifest.fromDirectory(spark, raw.toString)
    Validation.enforce(Validation.validateFileSet(spark, m, cfg))
    val metaPath = m.filter(col("ext") === "metafits").select("file_path").head().getString(0)
    val h = Fits.readHeaders(new java.net.URI(metaPath).getPath).head
    val meta = VisGenerator.Spec(obsid = h.long("OBSID"), nCoarse = h.int("NCOARSE"),
      nFine = h.int("NFINE"), freq0Hz = h.double("FREQ0"), dfHz = h.double("DFHZ"))
    val channels = VisGenerator.channels(spark, meta).withColumn("source", lit(metafitsName))
    Validation.enforce(Validation.validateProcessor(spark, m, channels))
    (m, ReadOps.FreqLayout(meta.freq0Hz, meta.dfHz, meta.nFine))
  }

  private def scan(spark: SparkSession, m: DataFrame): DataFrame =
    if (parquet) FitsProcessor.read(spark, m, store.toString) else gpubox(spark)

  private def writeFlags(flags: DataFrame): Unit =
    flags.write.mode(SaveMode.Overwrite).parquet(out.toString)

  /** The flagged cells on disk as sorted `time:freq_index:pol` keys. */
  private def check(spark: SparkSession): Map[String, Any] = {
    val f = spark.read.parquet(out.toString)
    val keys = f.filter(col("flagged")).select("time_idx", "freq_hz", "pol").collect()
      .map { r =>
        val fi = math.round((r.getDouble(1) - spec.freq0Hz) / spec.dfHz)
        s"${r.getInt(0)}:$fi:${r.getString(2)}"
      }.sorted
    Map("cells" -> f.count(), "flagged" -> keys.length,
      "digest" -> Util.sha256(keys.mkString("\n")))
  }

  override def pass(spark: SparkSession, p: Int): Seq[Req] =
    Seq(Workload.request("chain") {
      val (m, layout) = manifest(spark)
      val vis = ReadOps.readChain(scan(spark, m), cfg, layout)
      writeFlags(MatchFilter(VisOps.ins(VisOps.diff(VisOps.selectSurface(vis, cfg))), cfg))
    }(check(spark)))

  private def ck(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  private val counts = scala.collection.mutable.ArrayBuffer[Map[String, Double]]()

  override def tracedPass(spark: SparkSession, tr: Tracer, p: Int): Seq[Req] = {
    var n = Map.empty[String, Double]
    val r = Workload.request("chain") {
      tr.span("pass", p) {
        val (m, layout) = tr.span("mwa.manifest", p)(manifest(spark))
        val vis = tr.span("sources.scan", p)(ck(scan(spark, m)))
        val rc = tr.span("mwa.readchain", p)(ck(ReadOps.readChain(vis, cfg, layout)))
        val d = tr.span("mwa.diff", p)(ck(VisOps.diff(VisOps.selectSurface(rc, cfg))))
        val ins = tr.span("mwa.ins", p)(ck(VisOps.ins(d)))
        val mf = tr.span("mwa.matchfilter", p)(ck(MatchFilter(ins, cfg)))
        tr.span("mwa.write", p)(writeFlags(mf))
        n = Map("diff_rows" -> d.count().toDouble, "ins_cells" -> ins.count().toDouble,
          "mf_cells" -> mf.count().toDouble,
          "flagged" -> mf.filter(col("flagged")).count().toDouble,
          "write_mb" -> Util.dirBytes(out) / 1e6)
      }
    }(check(spark))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    counts += n
    Seq(r)
  }

  /** Default configuration (flag_init on) on the program's own FITS
    * fixture: raw files -> readChain -> ... -> MatchFilter -> Parquet. */
  override def probe(spark: SparkSession): Map[String, Any] = {
    val fx = Fits.fixtureSpec
    val dflt = GraftConfig()
    val r = Workload.request("default_config_chain") {
      val vis = spark.read.format("graft-vis").option("path", Fits.ensureFixture()).load()
      val layout = ReadOps.FreqLayout(fx.freq0Hz, fx.dfHz, fx.nFine)
      val rc = ReadOps.readChain(vis, dflt, layout)
      MatchFilter(VisOps.ins(VisOps.diff(VisOps.selectSurface(rc, dflt))), dflt)
        .write.mode(SaveMode.Overwrite).parquet(work.resolve("probe_flags").toString)
    }(Map.empty)
    Map("name" -> r.kind, "failed" -> (r.error != null), "error" -> r.error)
  }

  /** Bare scans into the no-op sink: decode alone, and Parquet alone over
    * the same rows. */
  private def noop(df: DataFrame): Double =
    Util.time(df.write.format("noop").mode(SaveMode.Overwrite).save())._2

  override def layers(spark: SparkSession, tr: Tracer,
                      ctx: Map[String, Double]): Map[String, Double] = {
    mediate(spark)
    val decode = Util.median((1 to 3).map(_ => noop(gpubox(spark))))
    val pq = Util.median((1 to 3).map(_ => noop(VisStore.read(spark, store.toString))))
    val planS = Util.time(gpubox(spark).queryExecution.toRdd.partitions)._2
    def med(name: String)(f: Span => Double): Double = Util.median(tr.of(name).map(f))
    def secs(name: String): Double = med(name)(_.seconds)
    def grp(name: String)(f: Counters => Double): Double =
      med(name)(s => f(tr.engine.group(s.group)))
    def cnt(k: String): Double = Util.median(counts.map(_(k)).toSeq)
    val inputMb = inputBytes / 1e6
    Map(
      "sources.plan_ms" -> planS * 1e3,
      // the chain scans the whole observation
      "sources.partitions_kept_frac" -> 1.0,
      "sources.decode_s" -> decode,
      "sources.decode_mrows_per_s" -> rowsPerPass / decode / 1e6,
      "sources.decode_vs_parquet" -> decode / pq,
      "mwa.manifest_ms" -> secs("mwa.manifest") * 1e3,
      "mwa.manifest_jobs" -> grp("mwa.manifest")(_.jobs.toDouble),
      "mwa.readchain_s" -> secs("mwa.readchain"),
      "mwa.diff_s" -> secs("mwa.diff"),
      "mwa.diff_shuffle_mb" -> grp("mwa.diff")(_.shuffleWriteBytes / 1e6),
      "mwa.diff_spill_mb" -> grp("mwa.diff")(_.spillBytes / 1e6),
      "mwa.ins_s" -> secs("mwa.ins"),
      "mwa.ins_reduction" -> cnt("diff_rows") / cnt("ins_cells"),
      "mwa.ins_shuffle_mb" -> grp("mwa.ins")(_.shuffleWriteBytes / 1e6),
      "mwa.matchfilter_s" -> secs("mwa.matchfilter"),
      "mwa.matchfilter_cells" -> cnt("mf_cells"),
      "mwa.flagged_cells" -> cnt("flagged"),
      "mwa.write_s" -> secs("mwa.write"),
      "mwa.write_mb" -> cnt("write_mb"),
      "mwa.mediate_s" -> mediateS,
      "mwa.mem_model_ratio" -> ctx("peak_rss_mb") / (7.0 * inputMb))
  }
}
