package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Dev-only per-job profiler: runs one catalog query and prints every
  * Spark job's wall time, stage count and shuffle bytes, so multi-job
  * operators (iterative graph loops, k-means fits, streaming scaffolds)
  * can be attributed stage by stage before optimizing. Not part of the
  * engine surface; Bench is the reported benchmark.
  *
  * Usage: runMain graft.ProfileQ <queryName> [sfDir] [runs]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 2
    val spark = Engine.session(32)
    // SPARK_GRAFT_RULE_DUMP=1: reset Catalyst's rule-time meters after each
    // query's warmup, then print that query's per-rule time after its
    // timed runs — attributes the wall-minus-jobs planning gap
    // (analyzer/optimizer/AQE re-plan cost per run) that job metrics
    // cannot see.
    val ruleDump = sys.env.get("SPARK_GRAFT_RULE_DUMP").contains("1")
    names.foreach(n => profileOne(spark, n, sfDir, runs, ruleDump = ruleDump))
    spark.stop()
  }

  private def profileOne(spark: SparkSession, name: String, sfDir: String,
                         runs: Int, ruleDump: Boolean = false): Unit = {

    final case class JobRec(id: Int, desc: String, start: Long,
                            var end: Long = 0L,
                            var shuffleRead: Long = 0L,
                            var shuffleWrite: Long = 0L,
                            var input: Long = 0L,
                            var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(e.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        jobs.put(e.jobId, JobRec(e.jobId, desc, e.time))
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val r = jobs.get(e.jobId); if (r != null) r.end = e.time
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.get(e.stageId)
        val r = jobs.get(jid)
        val m = e.taskMetrics
        if (r != null && m != null) r.synchronized {
          r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          r.input += m.inputMetrics.bytesRead
          r.tasks += 1
        }
      }
    }

    def runOnce(label: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[profile] $name $label: $dt%.2fs")
      dt
    }
    // removed when this query is done, so it records no later query's jobs
    spark.sparkContext.addSparkListener(listener)
    try {
      runOnce("warmup")
      jobs.clear(); stageToJob.clear()
      if (ruleDump)
        org.apache.spark.sql.catalyst.rules.RuleExecutor.resetMetrics()
      val times = (1 to runs).map { i =>
        spark.catalog.clearCache()
        if (i > 1) { jobs.clear(); stageToJob.clear() }
        runOnce(s"run $i")
      }
      if (ruleDump) System.err.println(s"[profile] $name rule times, timed runs only:\n" +
        org.apache.spark.sql.catalyst.rules.RuleExecutor.dumpTimeSpent())
      // jobs map now holds the LAST run's jobs
      Thread.sleep(500)
      import scala.jdk.CollectionConverters._
      val recs = jobs.values.asScala.toSeq.sortBy(_.id)
      System.err.println(f"[profile] ---- last run: ${recs.size} jobs ----")
      var wall = 0.0
      recs.foreach { r =>
        val dt = (r.end - r.start) / 1e3
        wall += dt
        System.err.println(f"[profile] job ${r.id}%3d ${dt}%7.3fs " +
          f"tasks=${r.tasks}%4d in=${r.input / 1e6}%8.1fMB " +
          f"sr=${r.shuffleRead / 1e6}%8.1fMB sw=${r.shuffleWrite / 1e6}%8.1fMB " +
          s" ${r.desc.take(90)}")
      }
      System.err.println(f"[profile] $name sum-of-jobs ${wall}%.2fs, " +
        f"best run ${times.min}%.2fs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
