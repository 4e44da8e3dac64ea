package perfbench

import org.apache.spark.sql.SparkSession

/** One timed request of a pass: its latency, whether it raised, and what
  * the benchmark needs to check its output (checked outside the timing). */
final case class Req(kind: String, latMs: Double, error: String,
                     check: Map[String, Any])

/** A workload is a closed loop of passes; each pass is one or more
  * requests sent back to back by one client. */
trait Workload {
  /** Writes the generated inputs (excluded from every timing). */
  def prepare(): Unit = ()
  /** Per-session work a user does once, not per pass (excluded from
    * setup time, reported on its own). */
  def prep(spark: SparkSession): Unit = ()
  def pass(spark: SparkSession, p: Int): Seq[Req]
  /** The same pass with every layer materialised inside its own span. */
  def tracedPass(spark: SparkSession, tr: Tracer, p: Int): Seq[Req]
  /** Per-layer metrics from the traced passes plus any traced-only
    * measurements (bare decode, mediation, per-format reads). */
  def layers(spark: SparkSession, tr: Tracer, ctx: Map[String, Double]): Map[String, Double]
  /** Untimed extra work every run records (the default-config probe). */
  def probe(spark: SparkSession): Map[String, Any] = Map.empty
  /** Rows one pass takes from input to output. */
  def rowsPerPass: Long
}

object Workload {
  /** Times `work`, then runs `check` outside the timing. An exception in
    * either counts as a failed request. */
  def request(kind: String)(work: => Unit)(check: => Map[String, Any]): Req = {
    val t0 = System.nanoTime()
    try {
      work
      val ms = (System.nanoTime() - t0) / 1e6
      try Req(kind, ms, null, check)
      catch { case e: Throwable => Req(kind, ms, "check: " + Util.message(e), Map.empty) }
    } catch {
      case e: Throwable => Req(kind, (System.nanoTime() - t0) / 1e6, Util.message(e), Map.empty)
    }
  }
}
