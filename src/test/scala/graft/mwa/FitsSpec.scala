package graft.mwa

import java.nio.file.Files
import graft.SparkSpec
import graft.sources.VisScanBuilder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, LessThan}

/** FITS binary I/O: standard conformance of the MWAX-shaped writer,
  * bit-exact round trip against the portable generator, and
  * time/channel pushdown pruning real (file, HDU-slice) partitions. */
class FitsSpec extends SparkSpec {

  private lazy val spec = VisGenerator.Spec(nTimes = 6, nAnts = 3)
  private lazy val dir = {
    val d = java.nio.file.Paths.get(tmpDir("graft_fits_spec"))
    Fits.writeVis(d, spec)
    d
  }

  private def load() = spark.read.format("graft-vis")
    .option("path", dir.toString).load()

  test("writer emits standard FITS: 2880-byte records, parseable headers") {
    val files = dir.toFile.listFiles().filter(_.getName.endsWith(".fits")).sorted
    assert(files.length == spec.nCoarse)
    files.foreach { f =>
      assert(f.length() % Fits.RecordLen == 0)
      val hdus = Fits.readHeaders(f.getPath)
      // primary + a data and a weights IMAGE per integration (MWAX shape)
      assert(hdus.length == 1 + 2 * spec.nTimes)
      assert(hdus.head.str("SIMPLE") == "T" || hdus.head.cards("SIMPLE").trim == "T")
      assert(hdus.head.str("POLS") == spec.pols.mkString(","))
      val nBl = spec.nAnts * (spec.nAnts + 1) / 2
      hdus.tail.grouped(2).foreach { case Seq(data, weights) =>
        for ((h, naxis1) <- Seq(data -> 2 * spec.nFine * spec.pols.length,
            weights -> spec.pols.length)) {
          assert(h.str("XTENSION") == "IMAGE")
          assert(h.int("BITPIX") == -32)
          assert(h.int("NAXIS") == 2)
          assert(h.int("NAXIS1") == naxis1 && h.int("NAXIS2") == nBl)
          assert(h.dataLen == 4L * naxis1 * nBl)
        }
        assert(weights.int("TIMEIDX") == data.int("TIMEIDX"))
      }
      // TIMEIDX sequence is dense and ordered
      assert(hdus.tail.map(_.int("TIMEIDX")) == (0 until spec.nTimes).flatMap(t => Seq(t, t)))
    }
  }

  test("decoded rows are bit-identical to the portable generator") {
    val fromFits = load()
    val fromExpr = VisGenerator.portable(spark, spec)
    assert(fromFits.schema.map(f => (f.name, f.dataType)) ==
      fromExpr.schema.map(f => (f.name, f.dataType)))
    assert(fromFits.count() == fromExpr.count())
    // exact join on every column: dyadic values survive the big-endian
    // round trip bit-for-bit, so an exact match is required, not approximate
    val cols = fromExpr.columns.toSeq
    assert(fromExpr.join(fromFits, cols).count() == fromExpr.count())
  }

  /** The source's own (file, HDU-slice) partitions under `filters`. */
  private def splits(filters: Filter*): Int = {
    val b = new VisScanBuilder(dir.toString)
    b.pushFilters(filters.toArray)
    b.build().toBatch.planInputPartitions().length
  }

  test("time/channel pushdown prunes (file, HDU-slice) partitions") {
    // one split per file -> 2 partitions unfiltered, each file one
    // (obsid, coarse_chan) key group
    assert(splits() == 2)
    assert(load().rdd.getNumPartitions == 2)
    assert(splits(LessThan("time_idx", 2), EqualTo("coarse_chan", 1)) == 1)
    val q = load().filter(col("time_idx") < 2 && col("coarse_chan") === 1)
    assert(q.rdd.getNumPartitions == 1)
    assert(q.count() ==
      2L * (spec.nAnts * (spec.nAnts + 1) / 2) * spec.nFine * spec.pols.length)
  }

  test("column pruning reaches the FITS scan") {
    val q = load().select("time_idx", "time_jd").distinct()
    val scans = q.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.nonEmpty)
    assert(scans.head.output.map(_.name) == Seq("time_idx", "time_jd"))
    assert(q.count() == spec.nTimes)
  }
}
