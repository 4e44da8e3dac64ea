package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.mwa._

/** Many small requests, each reading one coarse channel x 2 integrations
  * (the reference's time-batched read) from one observation stored three
  * ways. A pass sends one request per format, in a fixed cycle; the
  * channel and first integration of every request come from the seed. */
final class ReadsWorkload(spec: VisGenerator.Spec, dir: Path, seed: Long) extends Workload {
  val formats: Seq[String] = Seq("fits", "uvfits", "uvh5")
  private def path(fmt: String): String = dir.resolve(fmt).toString
  private val span = 2

  override def rowsPerPass: Long =
    formats.size.toLong * span * spec.nAnts * (spec.nAnts + 1) / 2 * spec.nFine * spec.pols.size


  /** The observation does not depend on the seed, so it is written once
    * per build and reused. */
  override def prepare(): Unit =
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      Util.deleteTree(dir)
      Fits.writeVis(dir.resolve("fits"), spec)
      Fits.Uvfits.write(dir.resolve("uvfits"), spec)
      Uvh5.write(dir.resolve("uvh5"), spec)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    }

  private def load(spark: SparkSession, fmt: String): DataFrame =
    spark.read.format("graft-vis").option("path", path(fmt)).load()

  /** Request `i` of the seeded stream: (format, coarse channel, t0). */
  def target(i: Int): (String, Int, Int) =
    (formats(i % formats.size), Util.draw(seed, 2L * i, spec.nCoarse),
      Util.draw(seed, 2L * i + 1, spec.nTimes - span + 1))

  private def scan(spark: SparkSession, fmt: String, c: Int, t0: Int): DataFrame =
    load(spark, fmt).filter(col("coarse_chan") === c &&
      col("time_idx") >= t0 && col("time_idx") < t0 + span)

  private def one(spark: SparkSession, i: Int, tr: Option[Tracer]): Req = {
    val (fmt, c, t0) = target(i)
    var rows = 0L
    var visSum = 0.0
    var parts = 0
    var bytes = 0L
    val r = Workload.request(fmt) {
      val go = () => {
        val df = scan(spark, fmt, c, t0)
        tr.foreach(t => parts = t.span("sources.plan", i)(df.queryExecution.toRdd.partitions.length))
        val before = Util.rchar
        val row = df.agg(count(lit(1)), sum("vis_re")).head()
        bytes = Util.rchar - before
        rows = row.getLong(0)
        visSum = if (row.isNullAt(1)) 0.0 else row.getDouble(1)
      }
      tr match {
        case Some(t) => t.span(s"sources.$fmt", i)(go())
        case None => go()
      }
    }(Map("format" -> fmt, "chan" -> c, "t0" -> t0, "span" -> span,
      "rows" -> rows, "vis_re_sum" -> visSum, "parts" -> parts, "rchar" -> bytes))
    r
  }

  private def cycle(spark: SparkSession, p: Int, tr: Option[Tracer]): Seq[Req] =
    formats.indices.map(k => one(spark, p * formats.size + k, tr))

  override def pass(spark: SparkSession, p: Int): Seq[Req] = cycle(spark, p, None)

  private val traced = scala.collection.mutable.ArrayBuffer[Req]()

  override def tracedPass(spark: SparkSession, tr: Tracer, p: Int): Seq[Req] = {
    val rs = cycle(spark, p, Some(tr))
    traced ++= rs
    rs
  }

  override def layers(spark: SparkSession, tr: Tracer,
                      ctx: Map[String, Double]): Map[String, Double] = {
    val allParts = formats.map(f => f -> load(spark, f).queryExecution.toRdd.partitions.length).toMap
    val ok = traced.filter(_.error == null).toSeq
    def num(r: Req, k: String): Double = r.check(k).toString.toDouble
    val perFormat = formats.flatMap { f =>
      val rs = ok.filter(_.kind == f)
      Seq(
        s"sources.$f.p50_ms" -> Util.median(rs.map(_.latMs)),
        s"sources.$f.read_bytes_per_row" ->
          Util.median(rs.map(r => num(r, "rchar") / math.max(1.0, num(r, "rows")))))
    }
    Map(
      "sources.plan_ms" -> Util.median(tr.of("sources.plan").map(_.seconds * 1e3)),
      "sources.partitions_kept_frac" ->
        Util.median(ok.map(r => num(r, "parts") / allParts(r.kind)))) ++ perFormat
  }
}
