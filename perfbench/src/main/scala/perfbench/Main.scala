package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import graft.Engine
import graft.mwa.VisGenerator

/** The benchmark's JVM side: writes a workload's inputs, starts the
  * engine several times (set-up), runs the closed loop for the given
  * seconds and writes one raw run record (`result.json` in the work
  * directory). `perfbench/run.py` turns that record into the metrics and
  * checks every output.
  *
  * Arguments are `key=value`: workload, seed, seconds, trace (0|1),
  * cores, setups, warmup (seconds), work (directory for this run), plus
  * the workload's geometry (see run.py). */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val Array(k, v) = s.split("=", 2); k -> v }.toMap
    val work = Paths.get(a("work"))
    Files.createDirectories(work)
    val trace = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    def int(k: String): Int = a(k).toInt
    def spec = VisGenerator.Spec(nTimes = int("ntimes"), nAnts = int("nants"),
      nCoarse = int("ncoarse"), nFine = int("nfine"),
      pols = Seq("XX", "YY", "XY", "YX").take(int("npols")),
      rfiFreqIdx = a.get("tone_freq").map(_.toInt).getOrElse(VisGenerator.Spec().rfiFreqIdx),
      rfiTimes = (a.get("tone_start").map(_.toInt).getOrElse(VisGenerator.Spec().rfiTimes._1),
        a.get("tone_end").map(_.toInt).getOrElse(VisGenerator.Spec().rfiTimes._2)),
      streakTime = a.get("streak_time").map(_.toInt).getOrElse(VisGenerator.Spec().streakTime))
    val wl: Workload = a("workload") match {
      case "gpubox_flags" => new FlagsWorkload(parquet = false, spec, work)
      case "parquet_flags" => new FlagsWorkload(parquet = true, spec, work)
      case "pruned_reads" => new ReadsWorkload(spec, Paths.get(a("inputs")), seed)
      case "curation_mix" =>
        new CurationWorkload(Paths.get(a("inputs")), seed, a("table_rows").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // The curation mix is too slow per pass to be timed as its own
    // workload here; a traced run can still measure its layers.
    val mix = a.get("mix_inputs").filter(_ => trace).map(d =>
      new CurationWorkload(Paths.get(d), seed, a("mix_rows").toLong))
    val record = run(wl, a("cores").toInt, a("setups").toInt, a("warmup").toDouble,
      seconds, trace, work, mix)
    Files.write(work.resolve("result.json"), Json(record).getBytes(StandardCharsets.UTF_8))
  }

  private def reqs(rs: Iterable[Req]): Seq[Map[String, Any]] =
    rs.map(r => Map("kind" -> r.kind, "lat_ms" -> r.latMs, "error" -> r.error,
      "check" -> r.check)).toSeq

  def run(wl: Workload, cores: Int, setups: Int, warmup: Double, seconds: Double,
          trace: Boolean, work: Path, mix: Option[CurationWorkload]): Map[String, Any] = {
    val (_, generateS) = Util.time(wl.prepare())
    val rssReset = Util.resetPeakRss()

    // Set-up: session start plus the first pass, several times; the first
    // is the cold one (class loading, code generation, JIT).
    val setupS = ArrayBuffer[Double]()
    val prepS = ArrayBuffer[Double]()
    val setupPasses = ArrayBuffer[Seq[Req]]()
    var spark: SparkSession = null
    for (k <- 1 to setups) {
      val t0 = System.nanoTime()
      spark = Engine.session(cores)
      val (_, prep) = Util.time(wl.prep(spark))
      setupPasses += wl.pass(spark, 1000000 + k)
      setupS += (System.nanoTime() - t0) / 1e9 - prep
      prepS += prep
      if (k < setups) spark.stop()
    }

    // Warm-up: untimed passes for a fixed time, so the timed window sees
    // compiled code (outputs are still checked).
    val warmPasses = ArrayBuffer[Seq[Req]]()
    val warmEnd = System.nanoTime() + (warmup * 1e9).toLong
    var p = 0
    while (System.nanoTime() < warmEnd) { warmPasses += wl.pass(spark, 2000000 + p); p += 1 }

    val engine = if (trace) Some(new EngineCounters(spark)) else None
    RuleExecutor.resetMetrics()
    val sc = spark.sparkContext
    val loopS = if (trace) seconds / 2 else seconds
    val passes = ArrayBuffer[Seq[Req]]()
    val passWall = ArrayBuffer[Double]()
    val deadline = System.nanoTime() + (loopS * 1e9).toLong
    p = 0
    while (p == 0 || System.nanoTime() < deadline) {
      if (trace) sc.setJobGroup(s"u$p", "pass", interruptOnCancel = false)
      val rs = wl.pass(spark, p)
      passes += rs
      passWall += rs.map(_.latMs).sum / 1e3
      p += 1
    }
    sc.clearJobGroup()
    val peakRss = Util.peakRssMb
    val rules = graftRules(RuleExecutor.dumpTimeSpent(), passes.size)
    val probe = wl.probe(spark)

    var layers = Map.empty[String, Double]
    val traced = ArrayBuffer[Seq[Req]]()
    val tracedWall = ArrayBuffer[Double]()
    val mixPasses = ArrayBuffer[Seq[Req]]()
    engine.foreach { eng =>
      val tr = new Tracer(spark, eng)
      val tDeadline = System.nanoTime() + (loopS * 1e9).toLong
      val first = p
      while (p - first < 2 || System.nanoTime() < tDeadline) {
        val rs = wl.tracedPass(spark, tr, p)
        traced += rs
        tracedWall += rs.map(_.latMs).sum / 1e3
        p += 1
      }
      val perPass = passes.indices.map(i => eng.group(s"u$i"))
      def med(f: Counters => Double): Double = Util.median(perPass.map(f))
      val ctx = Map("peak_rss_mb" -> peakRss)
      layers = wl.layers(spark, tr, ctx) ++ rules ++ Map(
        "engine.planning_ms" -> med(_.planningMs.toDouble),
        "engine.task_cpu_s" -> med(_.cpuNs / 1e9),
        "engine.task_gc_s" -> med(_.gcMs / 1e3),
        "engine.jobs" -> med(_.jobs.toDouble),
        "engine.tasks" -> med(_.tasks.toDouble),
        "engine.shuffle_write_mb" -> med(_.shuffleWriteBytes / 1e6),
        "engine.spill_mb" -> med(_.spillBytes / 1e6),
        "engine.peak_exec_mb" -> med(_.peakExecBytes / 1e6),
        "trace.overhead_frac" -> (Util.median(tracedWall.toSeq) / Util.median(passWall.toSeq) - 1))
      // Two traced passes of the curation mix; the layers come from the
      // second, after the first has loaded classes and compiled code.
      mix.foreach { m =>
        mixPasses += m.tracedPass(spark, new Tracer(spark, eng), -1)
        RuleExecutor.resetMetrics()
        val mtr = new Tracer(spark, eng)
        mixPasses += m.tracedPass(spark, mtr, p)
        val r = graftRules(RuleExecutor.dumpTimeSpent(), 1)
        layers = layers ++ m.layers(spark, mtr, ctx) ++ Map(
          "curation.graft_rule_ms" -> r("plans.graft_rule_ms"),
          "curation.graft_rule_effective_frac" -> r("plans.graft_rule_effective_frac"))
        tr.spans ++= mtr.spans
      }
      Files.write(work.resolve("spans.json"),
        Json(tr.spans.map(s => Map("name" -> s.name, "op" -> s.op, "parent" -> s.parent,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs))).getBytes(StandardCharsets.UTF_8))
    }
    spark.stop()

    Map(
      "generate_s" -> generateS,
      "rss_reset" -> rssReset,
      "setup_s" -> setupS.toSeq,
      "prep_s" -> prepS.toSeq,
      "setup_passes" -> setupPasses.map(reqs).toSeq,
      "warm_passes" -> warmPasses.map(reqs).toSeq,
      "passes" -> passes.map(reqs).toSeq,
      "pass_wall_s" -> passWall.toSeq,
      "traced_passes" -> traced.map(reqs).toSeq,
      "traced_pass_wall_s" -> tracedWall.toSeq,
      "mix_passes" -> mixPasses.map(reqs).toSeq,
      "rows_per_pass" -> wl.rowsPerPass,
      "peak_rss_mb" -> peakRss,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "cores" -> cores,
      "probe" -> probe,
      "layers" -> layers)
  }

  /** Time and effectiveness of the program's own Catalyst rules
    * (`graft.*`), from the rule executor's metering table, per pass. */
  def graftRules(dump: String, passes: Int): Map[String, Double] = {
    val row = """^\s*(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    val graft = dump.linesIterator.collect {
      case row(name, _, total, eff, runs) if name.startsWith("graft.") =>
        (total.toLong, eff.toLong, runs.toLong)
    }.toSeq
    val runs = graft.map(_._3).sum
    Map(
      "plans.graft_rule_ms" -> graft.map(_._1).sum / 1e6 / math.max(1, passes),
      "plans.graft_rule_effective_frac" ->
        (if (runs == 0) 0.0 else graft.map(_._2).sum.toDouble / runs))
  }
}
