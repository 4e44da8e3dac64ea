package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Task counters of one Spark job group. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var planningMs = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    planningMs += o.planningMs
    peakExecBytes = math.max(peakExecBytes, o.peakExecBytes)
  }
}

/** Spark's own counters, read from outside the program: a SparkListener
  * sums task metrics per job group (the benchmark sets one group per span
  * or per pass), and the planning phases (`qe.tracker`) of every SQL
  * execution, attributed to the group it started under. */
final class EngineCounters(spark: SparkSession) extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val planningMs = new ConcurrentHashMap[Long, Long]()

  private def of(g: String): Counters = byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach { group =>
      val c = of(group)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(s => stageGroup.put(s, group))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = of(g)
      c.synchronized {
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.diskBytesSpilled
        c.peakExecBytes = math.max(c.peakExecBytes, m.peakExecutionMemory)
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case s: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.perfbench.SqlEvents.planningMs(s)
        .foreach(ms => planningMs.put(s.executionId, ms))
    case _ =>
  }

  spark.sparkContext.addSparkListener(this)

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  private def planningOf(keep: String => Boolean): Long =
    planningMs.asScala.iterator.collect {
      case (id, ms) if Option(execGroup.get(id)).exists(keep) => ms
    }.sum

  def group(g: String): Counters = {
    drain()
    val out = new Counters
    Option(byGroup.get(g)).foreach(out.add)
    out.planningMs = planningOf(_ == g)
    out
  }
}

final case class Span(name: String, op: Int, parent: String, startMs: Double,
                      endMs: Double, group: String) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans recorded around the benchmark's calls into each layer. Each span
  * carries name, start, end, parent and operation id; it also sets a Spark
  * job group so task counters attribute to it. Spans stay in memory and
  * are written out when the run ends. */
final class Tracer(spark: SparkSession, val engine: EngineCounters) {
  val spans = mutable.ArrayBuffer[Span]()
  private val stack = mutable.Stack[String]()
  private def nowMs: Double = (System.nanoTime() - Tracer.origin) / 1e6

  def span[T](name: String, op: Int)(body: => T): T = {
    val parent = stack.headOption.getOrElse("")
    val group = s"op$op/$name"
    val sc = spark.sparkContext
    sc.setJobGroup(group, name, interruptOnCancel = false)
    stack.push(group)
    val start = nowMs
    try body
    finally {
      val end = nowMs
      stack.pop()
      spans += Span(name, op, parent, start, end, group)
      if (parent.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(parent, parent, interruptOnCancel = false)
    }
  }

  def of(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Tracer {
  /** One clock origin for every tracer of the run, so spans merge. */
  val origin: Long = System.nanoTime()
}
