package graft.sources

import java.nio.file.{Files, Paths}
import scala.util.Try
import graft.SparkSpec
import graft.mwa.{CorruptInputException, Fits, Uvh5}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, LessThan}

/** The `graft-vis` source over one input per format, all three carrying
  * the same observation: 17 integrations, 4 antennas (10 baselines),
  * 2 coarse x 8 fine channels, 2 pols — 5440 rows. Partition planning,
  * filter pushdown, column pruning and reader hygiene are pinned for each
  * format; gpubox is one file per coarse channel, uvfits/uvh5 one file
  * for the whole band. */
class VisSourceSpec extends SparkSpec {

  /** `files` is the file count, `perChan` whether coarse_chan can prune. */
  private case class Input(name: String, ext: String, dir: () => String,
                           files: Int, perChan: Boolean)
  private val inputs = Seq(
    Input("gpubox fits", ".fits", () => Fits.ensureFixture(), 2, perChan = true),
    Input("uvfits", ".uvfits", () => Fits.Uvfits.ensureFixture(), 1, perChan = false),
    Input("uvh5", ".uvh5", () => Uvh5.ensureFixture(), 1, perChan = false))

  private def load(dir: String, slice: Int = 4) = spark.read.format("graft-vis")
    .option("path", dir).option("timeslice", slice.toString).load()

  private def scanOutput(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.length == 1)
    scans.head.output.map(_.name)
  }

  test("plans one partition per (coarse_chan, time-slice)") {
    // per file: ceil(17/4) = 5 and ceil(17/2) = 9 slices
    for (in <- inputs) withClue(in.name) {
      assert(load(in.dir(), 4).rdd.getNumPartitions == in.files * 5)
      assert(load(in.dir(), 2).rdd.getNumPartitions == in.files * 9)
    }
  }

  test("column pruning reaches the source (metadata-only S3 pass)") {
    for (in <- inputs) withClue(in.name) {
      val q = load(in.dir()).select("time_idx", "time_jd").distinct()
      assert(scanOutput(q) == Seq("time_idx", "time_jd"))
      assert(q.count() == 17)
    }
  }

  test("filter pushdown prunes (time, chan) partitions at the source") {
    // pushFilters -> planInputPartitions, gpubox slice 2: 2 files x 9 slices; time_idx < 4 keeps
    // slices [0,2) and [2,4) per file; coarse_chan = 1 keeps one file
    val dir = Fits.ensureFixture()
    def partsWith(fs: Filter*) = {
      val b = new VisScanBuilder(dir, 2)
      b.pushFilters(fs.toArray)
      b.build().toBatch.planInputPartitions().length
    }
    assert(partsWith() == 18)
    assert(partsWith(LessThan("time_idx", 4)) == 4)
    assert(partsWith(LessThan("time_idx", 4), EqualTo("coarse_chan", 1)) == 2)
    assert(partsWith(EqualTo("time_idx", 0)) == 2)

    // end-to-end, slice 4: every format prunes time slices by seek; only
    // gpubox prunes coarse channels (uvfits groups and uvh5 blt rows span
    // the band, so there coarse_chan stays a row-level residual)
    val perChanRows = 10L * 8 * 2 // baselines x fine x pols
    for (in <- inputs) withClue(in.name) {
      def check(f: org.apache.spark.sql.Column, parts: Int, rows: Long) = {
        val q = load(in.dir()).filter(f)
        assert(q.rdd.getNumPartitions == parts)
        assert(q.count() == rows)
      }
      check(col("time_idx") < 4, in.files, 4 * 2 * perChanRows)
      check(col("coarse_chan") === 1, (if (in.perChan) 1 else in.files) * 5,
        17 * perChanRows)
      check(col("time_idx") < 4 && col("coarse_chan") === 1, 1, 4 * perChanRows)
    }
    val fine = load(dir, 2).filter(col("time_idx") < 2 && col("coarse_chan") === 1)
    assert(fine.rdd.getNumPartitions == 1)
    assert(fine.count() == 2 * perChanRows)
  }

  test("a projection in non-schema order with pushed filters equals the filtered full read") {
    val cols = Seq("nsample", "pol", "ant2", "time_jd", "vis_re")
    val keep = col("time_idx").between(3, 9) && col("coarse_chan") === 1
    for (in <- inputs) withClue(in.name) {
      val full = load(in.dir())
      val materialized = spark.createDataFrame(
        spark.sparkContext.parallelize(full.collect().toSeq), full.schema)
      val expected = materialized.filter(keep).select(cols.map(col): _*)
      val pruned = full.filter(keep).select(cols.map(col): _*)
      assert(scanOutput(pruned).toSet == (cols :+ "time_idx" :+ "coarse_chan").toSet)
      assert(pruned.columns.toSeq == cols)
      assert(pruned.count() == 7 * 10 * 8 * 2)
      assert(pruned.exceptAll(expected).isEmpty)
      assert(expected.exceptAll(pruned).isEmpty)
    }
  }

  test("the SSINS chain runs unchanged on the DSv2 source") {
    val cfg = graft.mwa.GraftConfig(removeFlaggedAnts = false)
    val ins = graft.mwa.VisOps.ins(graft.mwa.VisOps.diff(
      graft.mwa.VisOps.selectSurface(load(Fits.ensureFixture()), cfg)))
    assert(ins.count() == 16L * 16 * 2) // (nTimes-1) x freqs x pols
  }

  test("a read without a path fails naming the option") {
    val e = intercept[IllegalArgumentException](spark.read.format("graft-vis").load())
    assert(e.getMessage.contains("'path'"))
  }

  test("a directory mixing input families fails naming the extensions found") {
    def mixed(exts: String*)(fill: java.nio.file.Path => Unit) = {
      val dir = Paths.get(tmpDir("graft_vis_mixed_"))
      fill(dir)
      val e = intercept[MixedVisFormatsException](load(dir.toString).collect())
      exts.foreach(x => assert(e.getMessage.contains(x), e.getMessage))
    }
    def copyAll(from: String, to: java.nio.file.Path, ext: String): Unit =
      VisSource.inputs(from)(ext).foreach { f =>
        val p = Paths.get(f)
        Files.copy(p, to.resolve(p.getFileName))
      }
    // the pair Validation's ms_conflict rejects
    mixed(".uvh5", ".ms") { d =>
      copyAll(Uvh5.ensureFixture(), d, ".uvh5")
      Files.createDirectories(d.resolve("1234567890.ms"))
    }
    mixed(".uvfits", ".fits") { d =>
      copyAll(Fits.Uvfits.ensureFixture(), d, ".uvfits")
      copyAll(Fits.ensureFixture(), d, ".fits")
    }
  }

  private def corruptCause(e: Throwable): CorruptInputException =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case c: CorruptInputException => c }
      .getOrElse(fail(s"no CorruptInputException in the failure chain of $e"))

  test("a reader that fails on a truncated file leaves no handle open") {
    assume(Files.isDirectory(Paths.get("/proc/self/fd")), "needs /proc/self/fd")
    def openOn(file: java.nio.file.Path): Boolean = {
      val fds = Files.list(Paths.get("/proc/self/fd"))
      try fds.toArray.exists(fd =>
        Try(Files.readSymbolicLink(fd.asInstanceOf[java.nio.file.Path]))
          .toOption.contains(file))
      finally fds.close()
    }
    for (in <- inputs) withClue(in.name) {
      val dir = Paths.get(tmpDir("graft_vis_trunc_"))
      val files = VisSource.inputs(in.dir())(in.ext).map(Paths.get(_))
      files.foreach(f => Files.copy(f, dir.resolve(f.getFileName)))
      val victim = dir.resolve(files.head.getFileName).toRealPath()
      // plan on the intact copy (uvh5 keeps its metadata after /Data), then
      // truncate inside the data; one partition per file, so one task
      // touches the victim
      val rdd = load(dir.toString, slice = 17).queryExecution.toRdd
      val ch = java.nio.channels.FileChannel.open(victim,
        java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(Files.size(victim) / 2) finally ch.close()
      val e = intercept[Exception](rdd.count())
      assert(!openOn(victim))
      // the FITS decoders name the file and the offset (uvh5's HDF5 reader
      // does not type its errors yet)
      if (in.ext != ".uvh5") {
        val c = corruptCause(e)
        assert(Paths.get(c.path).toRealPath() == victim)
        assert(c.offset > 0 && c.offset <= Files.size(victim))
        assert(c.getMessage.contains(c.path) && c.getMessage.contains(s"byte ${c.offset}"),
          c.getMessage)
      }
    }
  }

  test("a FITS header with a size past EOF and 2 GiB, or a bad size card, fails typed") {
    // a gpubox file with one card of one header record rewritten (record 1
    // is the first BINTABLE header, right after the primary's), keeping
    // the first `keep` bytes
    val src = Paths.get(VisSource.inputs(Fits.ensureFixture())(".fits").head)
    val rec = Fits.RecordLen
    def corrupted(record: Int, find: String, card: String, keep: Int = Int.MaxValue) = {
      val bytes = Files.readAllBytes(src).take(keep)
      val text = new String(bytes, record * rec, rec, "US-ASCII")
      val at = record * rec + (0 until rec by Fits.CardLen)
        .find(i => text.startsWith(find, i)).get
      card.getBytes("US-ASCII").copyToArray(bytes, at)
      val dir = Paths.get(tmpDir("graft_fits_corrupt_"))
      Files.write(dir.resolve(src.getFileName), bytes)
      dir.resolve(src.getFileName).toString
    }
    def check(path: String, offset: Long, reason: String) = {
      val c = intercept[CorruptInputException](Fits.readHeaders(path))
      assert(c.path == path && c.offset == offset)
      assert(c.getMessage.contains(path) && c.getMessage.contains(s"byte $offset") &&
        c.getMessage.contains(reason), c.getMessage)
    }
    // 10^8 rows x 39 B = 3.9 GB: past EOF and past 2 GiB, refused at the
    // data unit's offset before anything is allocated, through the source
    // as well
    val huge = corrupted(1, "NAXIS2", Fits.cardInt("NAXIS2", 100000000L))
    check(huge, 2L * rec, "data unit of 3900000000 bytes runs past end of file")
    val e = intercept[Exception](load(Paths.get(huge).getParent.toString).count())
    assert(corruptCause(e).offset == 2L * rec)
    // a malformed or missing size card, at the header's own offset
    check(corrupted(1, "NAXIS2", Fits.card("NAXIS2", "12x")), rec,
      "NAXIS2 = '12x' is not a number")
    check(corrupted(1, "NAXIS2", " " * Fits.CardLen), rec, "missing NAXIS2 card")
    // a header that reaches EOF without its END card, where the file ends
    check(corrupted(0, "END ", " " * Fits.CardLen, keep = rec), rec,
      "header runs past end of file without an END card")
  }
}
