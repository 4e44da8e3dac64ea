package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local SparkSession per suite (lazy), plus
  * suite-tracked scratch dirs — [[tmpDir]] registers each dir for
  * deletion in afterAll (runs even when tests fail), so repeated test
  * runs leave /tmp flat (the same contract HygieneSpec pins for the
  * query builders) — and [[jobsOf]], a Spark job counter. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val trackedTmp =
    collection.mutable.ArrayBuffer.empty[java.io.File]

  /** A scratch dir deleted when the suite finishes. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toFile
    trackedTmp.synchronized { trackedTmp += d }
    d.toString
  }

  /** `f`'s result and the Spark jobs it started, counted by a listener. A
    * listener sees events in posting order, so once it sees the start of a
    * marker job submitted after `f` returns, every job of `f` is counted. */
  def jobsOf[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"job-budget-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val marked = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => jobs.incrementAndGet()
          case g if g == s"$group-end" => marked.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job budget")
      val result = f
      sc.setJobGroup(s"$group-end", "job budget marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marked.await(60, TimeUnit.SECONDS))
      (result, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  override def afterAll(): Unit = {
    trackedTmp.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
    super.afterAll()
  }
}
