package graft

/** Benchmark main: runs the headline query set on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}} for the harness. */
object Bench {

  /** One (name -> value) projection of the per-query results as a JSON
    * object with %.3f values. Extracted from main (r22) so the contract
    * spec can exercise it; byte-identical output. */
  private[graft] def queriesJson(
      results: Seq[(String, Double, Double, Double)],
      f: ((String, Double, Double, Double)) => (String, Double)): String =
    results.map { r => val (k, v) = f(r); "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")

  /** The bench contract line. Extracted from main (r22, VERDICT task 6)
    * so BenchContractSpec can pin that the final stdout line parses as
    * JSON with the agreed keys — round 20's artifact carried an
    * unparseable line and silently blinded PERF's round-over-round
    * comparison. Pure string assembly, byte-identical to the previous
    * inline form; the harness-facing format is unchanged. */
  private[graft] def jsonLine(total: Double, qs: String, meds: String,
      maxs: String, medTotal: Double, probeStart: Double, probeEnd: Double,
      probePts: String, envSegs: String, sfDir: String, filtered: String,
      aux: String, mem: String, partsField: String): String =
    f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"medians":$meds,"maxs":$maxs,"median_total":$medTotal%.3f,"probe_start_sec":$probeStart%.3f,"probe_end_sec":$probeEnd%.3f,"probe_points":$probePts%s,"env_segments":$envSegs%s,"sf":"$sfDir"$filtered%s$aux%s$mem%s$partsField%s}"""
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_SQL_CONFS: semicolon-separated key=value runtime SQL
    // confs for A/B arms (e.g. spark.graft.sizing.enabled=false or
    // spark.sql.shuffle.partitions=64); stamped into the artifact whenever
    // present so an off-protocol arm can never masquerade as a protocol
    // session
    val extraConfs: Seq[(String, String)] =
      sys.env.get("SPARK_GRAFT_SQL_CONFS").map(_.split(";").toSeq.map { kv =>
        val Array(k, v) = kv.split("=", 2); (k, v)
      }).getOrElse(Nil)
    val spark = Engine.session()
    extraConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    // dev iteration: SPARK_GRAFT_BENCH_ONLY=q01_count,d24_reachability
    // restricts the run; the artifact then carries "filtered":true so a
    // partial run can never masquerade as the full protocol (round-8
    // shipped silently-wrong bench numbers once; never again by forensics)
    // SPARK_GRAFT_BENCH_RUNS (default 5 = the protocol): experiment arms
    // on multi-minute sf10 queries use 2 — stamped into the artifact via
    // "timed_runs" whenever off-protocol, same rule as sql_confs
    val timedRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").toSeq)
    // SPARK_GRAFT_BENCH_ORDER_SEED (round-18 verdict task 3, the ABBA
    // protocol): deterministically shuffle the session's query order.
    // Two medians sessions run with DIFFERENT seeds, so a query's
    // position in the session — and therefore its exposure to slow
    // intra-session environment drift — decorrelates between the pair:
    // the per-query min/median over both sessions becomes a
    // paired-sample design and segment normalization stops being
    // load-bearing. The seed is stamped into the artifact; the medians
    // dict stays in EXECUTION order (probe interpolation needs it).
    val orderSeed = sys.env.get("SPARK_GRAFT_BENCH_ORDER_SEED").map(_.toLong)
    val baseNames = only.getOrElse(graft.queries.Catalog.benchNames)
    val names = orderSeed match {
      case Some(seed) => new scala.util.Random(seed).shuffle(baseNames)
      case None => baseNames
    }
    val qmap = SparkEntry.queries

    // Environment-drift control (round-14 verdict task 2): a pinned,
    // bench-set- and data-independent probe measured at session start and
    // end. Three round-13 drift episodes each cost a worktree rebuild to
    // adjudicate "code regression vs environment epoch"; with the probe in
    // the artifact the call is mechanical — probe moved with the queries
    // => epoch; probe flat while queries moved => suspect the code. The
    // probe exercises the three resources environment drift acts on:
    // codegen'd CPU (range sum), the shuffle path (hash agg over 64k
    // keys), and a broadcast join, all from spark.range — no data files,
    // so testdata changes can never alias into the control.
    def probeOnce(): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1, 32)
        .selectExpr("sum(id * 3 % 7)").collect()
      spark.range(0L, 4000000L, 1, 32)
        .selectExpr("id % 65536 AS k").groupBy("k").count()
        .selectExpr("sum(count)").collect()
      spark.range(0L, 2000000L, 1, 32).selectExpr("id", "id % 1000 AS k")
        .join(spark.range(1000L).selectExpr("id AS k", "id * 2 AS v"), "k")
        .selectExpr("sum(v)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    def probeMedian(): Double = {
      probeOnce() // untimed warmup: codegen + JIT, same as the query protocol
      val ts = (1 to 5).map(_ => probeOnce()).sorted
      ts(ts.size / 2)
    }
    // Mid-session probes (round-16 verdict task 3): the start/end pair
    // cannot resolve INTRA-session drift — r16's end-of-round session had
    // probes 0.869/0.527 while totals rose 27%, and the two points can't
    // say when (or whether smoothly) the environment moved. A probe is now
    // emitted every PROBE_EVERY queries; tools/bench_medians.py normalizes
    // each per-query median against the nearest probe point. Mid probes
    // skip the warmup and use median-of-3 (the session is already
    // codegen/JIT-warm after the start probe), keeping the added wall
    // ~2s per point on a healthy epoch.
    val probeEvery = 10
    def probeMid(): Double = {
      val ts = (1 to 3).map(_ => probeOnce()).sorted
      ts(ts.size / 2)
    }
    // Environment evidence (round-18 verdict task 2): the probe is a
    // PROXY for the environment epoch; two consecutive rounds' raw ~50s
    // sessions were adjudicated "environment" on the proxy alone. Each
    // probe point now also snapshots the DIRECT counters drift acts
    // through — /proc/loadavg, system-wide /proc/stat cpu jiffies, and
    // this JVM's own utime+stime — so a per-segment "foreign CPU
    // fraction" (system busy minus our own, over total) plus steal/iowait
    // fractions land in the artifact. An environment adjudication then
    // cites a counter, not an inference; tools/bench_medians.py flags
    // segments whose counters leave the healthy band.
    final case class EnvSnap(loadavg1: Double, busy: Long, steal: Long,
                             iowait: Long, total: Long, own: Long)
    def envSnap(): EnvSnap = try {
      val la = scala.io.Source.fromFile("/proc/loadavg").mkString
        .split("\\s+")(0).toDouble
      val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
        .next().split("\\s+").drop(1).map(_.toLong)
      // user nice system idle iowait irq softirq steal [guest guestnice]
      val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6) +
        (if (cpu.length > 7) cpu(7) else 0L)
      val self = scala.io.Source.fromFile("/proc/self/stat").mkString
        .split("\\s+")
      val own = self(13).toLong + self(14).toLong // utime + stime
      // total = the 8 scheduler classes; guest columns double-count user
      EnvSnap(la, busy, if (cpu.length > 7) cpu(7) else 0L, cpu(4),
        cpu.take(8).sum, own)
    } catch { case _: Exception => EnvSnap(-1, 0, 0, 0, 0, 0) }
    val envPoints = scala.collection.mutable.ArrayBuffer[(Int, EnvSnap)]()
    val probePoints = scala.collection.mutable.ArrayBuffer[(Int, Double)]()
    val probeStart = probeMedian()
    probePoints += ((0, probeStart))
    envPoints += ((0, envSnap()))
    System.err.println(f"[bench] drift probe (session start): $probeStart%.3fs")
    // Memory accounting (round-15 verdict task 2): the reference's stated
    // north star is BOUNDED PEAK MEMORY (its README: "protect peak memory
    // usage through automated batching"); the rebuild's answer is
    // partitioning + spill. These counters put the evidence in every
    // bench artifact: per-query shuffle/agg spill bytes (a query that
    // completes by spilling is the design working; one that OOMs is the
    // design failing) and the JVM's peak RSS at session end.
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
          }
        }
      })
    // steady-state methodology: per query, one untimed warmup run (codegen
    // compilation + JIT), then clear the block cache (so persisted
    // intermediates don't fake the measurement) and take the best of FIVE
    // timed executions (GC pauses otherwise add multi-second noise; the
    // round-5 "regressions" x03 +26% / t07 +19% were all single-run noise
    // under a best-of-two protocol, and the round-10 audit saw a 2.6x
    // median swing on mwa06 under 3 runs with a bit-identical binary —
    // a 5-run median is the cheapest protocol whose per-query medians
    // stay within ~1.2x across back-to-back invocations).
    // per-query spill deltas: listener posts are async. A tiny barrier job
    // is run first (the bus is FIFO, so its events queue behind every
    // prior task-end), then the counters are polled to stability instead
    // of a fixed sleep (round-15 ADVICE: a slow bus could bleed one
    // query's spill into the next under the old 200ms guess). NOTE the
    // window: each per-query delta spans the untimed warmup PLUS all 5
    // timed runs — ~6x a single execution — which the artifact states via
    // mem.spill_window so the numbers can't be misread as per-run.
    def spillSnapshot(): (Long, Long) = {
      spark.range(1).count()
      var prev = (spillMem.get(), spillDisk.get())
      var settled = false
      var waited = 0
      while (!settled && waited < 1000) {
        Thread.sleep(50); waited += 50
        val cur = (spillMem.get(), spillDisk.get())
        settled = cur == prev
        prev = cur
      }
      prev
    }
    val spillByQuery = scala.collection.mutable.LinkedHashMap[String, (Long, Long)]()
    val results = names.zipWithIndex.map { case (name, qi) =>
      val (m0, d0) = spillSnapshot()
      // a query that fails to plan or execute reports -1, never a fake
      // fast time: round-8's bench silently recorded 0.00s for five
      // queries broken by a testdata schema change.
      // Each timed run REBUILDS the DataFrame: iterative operators
      // (BFS, PageRank, Lloyd rounds) materialize eagerly via
      // localCheckpoint during construction, so timing only count() on a
      // pre-built frame would measure a cached result, not the query.
      var failed: Throwable = null
      def run(): Unit = qmap(name)(spark, sfDir).count()
      try run() catch { case t: Throwable => failed = t } // warmup
      val times = (1 to timedRuns).map { _ =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        try { if (failed == null) run() } catch { case t: Throwable => failed = t }
        (System.nanoTime() - t0) / 1e9
      }
      spark.catalog.clearCache()
      locally {
        val (m1, d1) = spillSnapshot()
        spillByQuery(name) = (m1 - m0, d1 - d0)
      }
      if ((qi + 1) % probeEvery == 0 && qi + 1 < names.size) {
        val p = probeMid()
        probePoints += ((qi + 1, p))
        envPoints += ((qi + 1, envSnap()))
        System.err.println(f"[bench] drift probe (after ${qi + 1} queries): $p%.3fs")
      }
      if (failed != null) {
        System.err.println(s"[bench] $name FAILED: ${failed.getMessage.linesIterator.next()}")
        (name, -1.0, -1.0, -1.0)
      } else {
      val dt = times.min
      // the 5-run median rides along so regressions are judged on medians
      // (the round-6 audit protocol): a min can flatter, a single run can
      // slander; the median is the steady-state number. The max rides
      // along too (round-15 verdict task 5) so "session variance"
      // adjudications can cite the in-artifact min..max spread instead of
      // cross-round precedent.
      val med = times.sorted.apply(times.size / 2)
      System.err.println(f"[bench] $name%-22s $dt%8.2fs  (median $med%.2fs, max ${times.max}%.2fs)")
      (name, dt, med, times.max)
      }
    }
    val qs = queriesJson(results, r => (r._1, r._2))
    val meds = queriesJson(results, r => (r._1, r._3))
    val maxs = queriesJson(results, r => (r._1, r._4))
    val total = results.map(_._2).sum
    val medTotal = results.map(_._3).sum
    val filtered = if (only.isDefined)
      s""","filtered":true,"filtered_to":${names.map("\"" + _ + "\"").mkString("[", ",", "]")}"""
    else ""
    // per-query interpretability breakdowns (e.g. the streaming queries'
    // scaffold-vs-stream split and records/s) registered via BenchAux
    val auxEntries = names.flatMap(n => graft.queries.BenchAux.get(n).map { fs =>
      "\"" + n + "\":" + fs.map { case (k, v) => f""""$k":$v%.3f""" }
        .mkString("{", ",", "}")
    })
    val aux = if (auxEntries.nonEmpty)
      s""","aux":${auxEntries.mkString("{", ",", "}")}""" else ""
    val probeEnd = probeMedian()
    probePoints += ((names.size, probeEnd))
    envPoints += ((names.size, envSnap()))
    System.err.println(f"[bench] drift probe (session end): $probeEnd%.3fs")
    // env_segments: per probe-segment deltas of the direct counters.
    // foreign_cpu_frac = (system busy - our own jiffies) / total — CPU
    // someone ELSE burned during the segment; steal/iowait fractions are
    // hypervisor contention and IO pressure respectively.
    val envSegs = envPoints.toSeq.sliding(2).collect {
      case Seq((i0, a), (i1, b)) if b.total > a.total =>
        val tot = (b.total - a.total).toDouble
        val foreign = math.max(0L, (b.busy - a.busy) - (b.own - a.own))
        f"""{"from":$i0,"to":$i1,"loadavg1":${b.loadavg1}%.2f,""" +
          f""""foreign_cpu_frac":${foreign / tot}%.4f,""" +
          f""""steal_frac":${(b.steal - a.steal) / tot}%.4f,""" +
          f""""iowait_frac":${(b.iowait - a.iowait) / tot}%.4f}"""
    }.mkString("[", ",", "]")
    // probe_points: [after_n_queries, probe_sec] pairs — start, every
    // probeEvery queries, end. bench_medians.py interpolates a per-query
    // epoch from these and normalizes each median against its own segment.
    val probePts = probePoints.map { case (i, p) => f"[$i,$p%.3f]" }
      .mkString("[", ",", "]")
    // memory artifact: per-query spill MB (only queries that spilled),
    // peak RSS (VmHWM from /proc — includes offheap + JVM overhead) and
    // the configured heap ceiling
    val spillObj = spillByQuery.collect {
      case (n, (m, dk)) if m > 0 || dk > 0 =>
        f""""$n":{"spill_mem_mb":${m / 1e6}%.1f,"spill_disk_mb":${dk / 1e6}%.1f}"""
    }.mkString("{", ",", "}")
    val peakRssMb =
      try scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM")).map(_.split("\\s+")(1).toLong / 1024)
        .getOrElse(-1L)
      catch { case _: Exception => -1L }
    val heapMaxMb = Runtime.getRuntime.maxMemory() / (1024 * 1024)
    val mem = s""","mem":{"heap_max_mb":$heapMaxMb,"peak_rss_mb":$peakRssMb,""" +
      s""""spill_window":"warmup+${timedRuns}_timed_runs (~${timedRuns + 1}x one execution)","spill":$spillObj}"""
    // off-protocol settings must be visible in the artifact so an
    // experiment arm can never masquerade as a protocol session
    val partsField = (if (timedRuns != 5) s""","timed_runs":$timedRuns""" else "") +
      orderSeed.map(s => s""","query_order_seed":$s""").getOrElse("") +
      (if (extraConfs.nonEmpty)
        extraConfs.map { case (k, v) => s""""$k":"$v"""" }
          .mkString(""","sql_confs":{""", ",", "}")
      else "")
    println(jsonLine(total, qs, meds, maxs, medTotal, probeStart, probeEnd,
      probePts, envSegs, sfDir, filtered, aux, mem, partsField))
    spark.stop()
  }
}
