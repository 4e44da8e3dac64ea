package perfbench

import java.nio.file.Path
import org.apache.spark.sql.{Row, SparkSession}
import graft.queries.Catalog

/** One pass over the curation query mix, through `Catalog.queries`, on
  * generated tables; the seed orders the queries of each pass. */
final class CurationWorkload(data: Path, seed: Long, tableRows: Long) extends Workload {
  val names: Seq[String] = Seq("d11_pipeline", "d28_kcore", "q69_recursive_sql",
    "q57_group_topk_exec", "x03_ivf_knn", "x12_kmeans_portable", "q65_bloom_prefilter")

  override def rowsPerPass: Long = tableRows

  private def order(p: Int): Seq[String] =
    names.zipWithIndex.sortBy { case (_, k) => Util.mix(seed * 7919 + p, k) }.map(_._1)

  /** Order-independent digest: the sum of per-row hashes, plus the count. */
  private def digest(rows: Array[Row]): String = {
    var acc = 0L
    rows.foreach(r => acc += java.lang.Long.parseUnsignedLong(Util.sha256(r.toString).take(15), 16))
    f"${rows.length}%d:$acc%016x"
  }

  private def query(spark: SparkSession, name: String, p: Int, tr: Option[Tracer]): Req = {
    var rows: Array[Row] = Array.empty
    Workload.request(name) {
      val go = () => { rows = Catalog.queries(name)(spark, data.toString).collect() }
      tr match {
        case Some(t) => t.span(s"curation.$name", p)(go())
        case None => go()
      }
    }(Map("query" -> name, "digest" -> digest(rows)))
  }

  override def pass(spark: SparkSession, p: Int): Seq[Req] =
    order(p).map(query(spark, _, p, None))

  override def tracedPass(spark: SparkSession, tr: Tracer, p: Int): Seq[Req] =
    order(p).map(query(spark, _, p, Some(tr)))

  override def layers(spark: SparkSession, tr: Tracer,
                      ctx: Map[String, Double]): Map[String, Double] =
    names.flatMap { q =>
      val spans = tr.of(s"curation.$q")
      def grp(f: Counters => Double): Double =
        Util.median(spans.map(s => f(tr.engine.group(s.group))))
      Seq(
        s"curation.$q.wall_s" -> Util.median(spans.map(_.seconds)),
        s"curation.$q.task_cpu_s" -> grp(_.cpuNs / 1e9),
        s"curation.$q.shuffle_mb" -> grp(_.shuffleWriteBytes / 1e6),
        s"curation.$q.spill_mb" -> grp(_.spillBytes / 1e6))
    }.toMap
}
