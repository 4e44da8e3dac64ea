package graft.sources

import java.nio.file.{Files, Paths}
import graft.SparkSpec
import graft.mwa.{CorruptInputException, Fits, VisGenerator}
import org.apache.spark.sql.sources.{EqualTo, LessThan}

/** uvfits (FITS random-groups) source: decode parity with the gpubox
  * decoder, header sizing, time-axis pushdown via group seek, and the AIPS
  * baseline-code range on both sides. */
class UvfitsSpec extends SparkSpec {

  private def loadUvfits(path: String = Fits.Uvfits.ensureFixture()) =
    spark.read.format("graft-vis").option("path", path).load()

  private def loadGpubox = spark.read.format("graft-vis")
    .option("path", Fits.ensureFixture()).load()

  test("uvfits decode is bit-identical to the gpubox decode of the same values") {
    // both fixtures carry the same dyadic arithmetic; every value is exactly
    // representable in float32, so the two decode paths must agree on every
    // column of every row — full-row EXCEPT in both directions is empty
    val uv = loadUvfits()
    val gp = loadGpubox
    assert(uv.count() == 5440 && gp.count() == 5440)
    assert(uv.schema == gp.schema)
    assert(uv.exceptAll(gp).count() == 0)
    assert(gp.exceptAll(uv).count() == 0)
  }

  test("random-groups header sizes the data unit correctly") {
    val file = VisSource.inputs(Fits.Uvfits.ensureFixture())(".uvfits").head
    val hs = Fits.readHeaders(file)
    assert(hs.length == 1) // everything lives in the primary HDU
    val h = hs.head
    // 170 groups x (5 params + 3*2*16 array) floats
    assert(h.dataLen == 170L * (5 + 96) * 4)
    // header walk must land exactly on the padded end-of-file
    val len = new java.io.File(file).length()
    assert(h.nextHduOffset == len)
  }

  test("time filters prune group-slices at the source (seek, no decode)") {
    // one split per coarse channel of the one file, over the integrations
    // the time filters keep: a seek to the first kept group
    val ranges = VisSourceSpec.ranges(Fits.Uvfits.ensureFixture()) _
    assert(loadUvfits().rdd.getNumPartitions == 2)
    assert(ranges(Seq(LessThan("time_idx", 4))) == Seq((0, 0, 4), (1, 0, 4)))
    val pruned = loadUvfits().filter("time_idx < 4")
    assert(pruned.rdd.getNumPartitions == 2)
    assert(pruned.count() == 4 * 10 * 16 * 2)
    // a coarse_chan filter keeps one channel's split
    assert(ranges(Seq(EqualTo("coarse_chan", 1))) == Seq((1, 0, 17)))
    val chan = loadUvfits().filter("coarse_chan = 1")
    assert(chan.rdd.getNumPartitions == 1)
    assert(chan.count() == 17 * 10 * 8 * 2)
  }

  test("the writer rejects arrays whose baseline codes would alias (> 255 antennas)") {
    val dir = Paths.get(tmpDir("graft_uvfits_256_"))
    val e = intercept[IllegalArgumentException] {
      Fits.Uvfits.write(dir, VisGenerator.Spec(nTimes = 1, nAnts = 256,
        nCoarse = 1, nFine = 1))
    }
    assert(e.getMessage.contains("nAnts=256"))
    assert(!Files.exists(dir.resolve(s"${VisGenerator.Spec().obsid}.uvfits")))
  }

  test("a group whose baseline code decodes outside the array fails naming file and group") {
    val dir = Paths.get(tmpDir("graft_uvfits_badbl_"))
    val spec = VisGenerator.Spec(nTimes = 2, nAnts = 3, nCoarse = 1, nFine = 2)
    val file = Fits.Uvfits.write(dir, spec)
    // group 4's BASELINE parameter (the 4th float) := 512, which decodes to
    // ant1 = 1, ant2 = -1
    val h = Fits.readPrimary(file.toString)
    val group4 = h.dataOffset + 4L * Fits.Uvfits.groupFloats(spec) * 4
    val raf = new java.io.RandomAccessFile(file.toFile, "rw")
    try {
      raf.seek(group4 + 3 * 4)
      raf.writeFloat(512f)
    } finally raf.close()
    val e = intercept[Exception](loadUvfits(dir.toString).collect())
    val c = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case c: CorruptInputException => c }
      .getOrElse(fail(s"no CorruptInputException in the failure chain of $e"))
    assert(c.path == file.toString && c.offset == group4)
    assert(c.getMessage.contains(s"$file: corrupt input at byte $group4: " +
      "group 4 has baseline code 512"), c.getMessage)
  }
}
