package graft.sources

import graft.SparkSpec
import graft.mwa.{Fits, Hdf5, Uvh5}
import org.apache.spark.sql.sources.{EqualTo, GreaterThanOrEqual, LessThan}

/** uvh5 (minimal HDF5) source: structural round-trip of the HDF5 subset,
  * decode parity with the gpubox path, and seek-based time pruning. */
class Uvh5Spec extends SparkSpec {

  private def loadUvh5() = spark.read.format("graft-vis")
    .option("path", Uvh5.ensureFixture()).load()

  test("HDF5 writer/reader round-trips groups, dtypes, dims and data") {
    val dir = java.nio.file.Paths.get(tmpDir("graft_h5_"))
    val p = dir.resolve("t.h5")
    import Hdf5._
    write(p, Seq(
      Group("A", Seq(
        Dataset("s", I64, Nil, longs(Seq(42L))),
        Dataset("v", F64, Seq(3), doubles(Seq(1.5, -2.25, 3.0))))),
      Group("B", Seq(
        Dataset("m", F32, Seq(2, 2), floats(Seq(1f, 2f, 3f, 4f))),
        Dataset("z", C64, Seq(2), floats(Seq(1f, -1f, 2f, -2f))),
        Dataset("b", I8, Seq(4), Array[Byte](0, 1, 0, 1))))))
    val raf = new java.io.RandomAccessFile(p.toString, "r")
    try {
      val ds = datasets(raf, p.toString)
      assert(ds.keySet == Set("A/s", "A/v", "B/m", "B/z", "B/b"))
      assert(ds("A/s").dtype == I64 && ds("A/s").dims.isEmpty)
      assert(readLongs(raf, p.toString, ds("A/s"), 0, 1).toSeq == Seq(42L))
      assert(ds("B/m").dims == Seq(2L, 2L))
      assert(ds("B/z").dtype == C64)
      assert(readDoubles(raf, p.toString, ds("A/v"), 1, 2).toSeq == Seq(-2.25, 3.0))
      assert(readFloats(raf, p.toString, ds("B/m"), 0, 4).toSeq == Seq(1f, 2f, 3f, 4f))
      val zb = readBytesOf(raf, p.toString, ds("B/z"), 1, 1)
      assert(zb.getFloat == 2f && zb.getFloat == -2f)
    } finally raf.close()
  }

  test("uvh5 decode is bit-identical to the gpubox decode of the same values") {
    val uv = loadUvh5()
    val gp = spark.read.format("graft-vis")
      .option("path", Fits.ensureFixture()).load()
    assert(uv.count() == 5440 && gp.count() == 5440)
    assert(uv.schema == gp.schema)
    assert(uv.exceptAll(gp).count() == 0)
    assert(gp.exceptAll(uv).count() == 0)
  }

  test("time filters prune blt-slices at the source (contiguous seek)") {
    // one split per coarse channel, over the integrations the time filters
    // keep: one seek per blt row to the channel's contiguous range
    val ranges = VisSourceSpec.ranges(Uvh5.ensureFixture()) _
    assert(loadUvh5().rdd.getNumPartitions == 2)
    assert(ranges(Seq(LessThan("time_idx", 4))) == Seq((0, 0, 4), (1, 0, 4)))
    val pruned = loadUvh5().filter("time_idx < 4")
    assert(pruned.rdd.getNumPartitions == 2)
    assert(pruned.count() == 4 * 10 * 16 * 2)
    assert(ranges(Seq(EqualTo("coarse_chan", 1), GreaterThanOrEqual("time_idx", 15))) ==
      Seq((1, 15, 17)))
  }
}
