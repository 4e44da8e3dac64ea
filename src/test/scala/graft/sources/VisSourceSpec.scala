package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}
import scala.util.Try
import graft.SparkSpec
import graft.mwa.{CorruptInputException, Fits, Hdf5, Uvh5, VisGenerator}
import org.apache.spark.sql.execution.ColumnarToRowExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, LessThan}
import org.apache.spark.sql.types.StructType

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

  private def load(dir: String) = spark.read.format("graft-vis")
    .option("path", dir).load()

  private def scanOutput(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }
    assert(scans.length == 1)
    scans.head.output.map(_.name)
  }

  /** The source's own (file, time-slice) partitions for `df`'s one scan,
    * as planned with the filters pushed into it. */
  private def splits(df: org.apache.spark.sql.DataFrame): Int = {
    val scans = df.queryExecution.sparkPlan.collect { case b: BatchScanExec => b }
    assert(scans.length == 1)
    scans.head.batch.planInputPartitions().length
  }

  test("plans one partition per (coarse_chan, time-slice)") {
    // a gpubox file, one (obsid, coarse_chan) key group, is one split and
    // one RDD partition; uvfits and uvh5 split per file into ceil(17/4) = 5
    // time slices
    for (in <- inputs) withClue(in.name) {
      val df = load(in.dir())
      val parts = if (in.perChan) in.files else in.files * 5
      assert(splits(df) == parts)
      assert(df.rdd.getNumPartitions == parts)
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
    // pushFilters -> planInputPartitions, gpubox: one split per file, over
    // the integrations the time filters keep; coarse_chan = 1 keeps one file
    val dir = Fits.ensureFixture()
    def partsWith(fs: Filter*) = {
      val b = new VisScanBuilder(dir)
      b.pushFilters(fs.toArray)
      b.build().toBatch.planInputPartitions().length
    }
    assert(partsWith() == 2)
    assert(partsWith(LessThan("time_idx", 4)) == 2)
    assert(partsWith(LessThan("time_idx", 4), EqualTo("coarse_chan", 1)) == 1)
    assert(partsWith(EqualTo("time_idx", 0)) == 2)

    // end-to-end: every format prunes time slices by seek; only
    // gpubox prunes coarse channels (uvfits groups and uvh5 blt rows span
    // the band, so there coarse_chan stays a row-level residual)
    val perChanRows = 10L * 8 * 2 // baselines x fine x pols
    // gpubox runs as one RDD partition per surviving file
    for (in <- inputs) withClue(in.name) {
      def check(f: org.apache.spark.sql.Column, parts: Int, files: Int, rows: Long) = {
        val q = load(in.dir()).filter(f)
        assert(splits(q) == parts)
        assert(q.rdd.getNumPartitions == (if (in.perChan) files else parts))
        assert(q.count() == rows)
      }
      check(col("time_idx") < 4, in.files, in.files, 4 * 2 * perChanRows)
      check(col("coarse_chan") === 1, if (in.perChan) 1 else in.files * 5, 1,
        17 * perChanRows)
      check(col("time_idx") < 4 && col("coarse_chan") === 1, 1, 1, 4 * perChanRows)
    }
    // a filter inside one slice keeps that slice; Spark drops its other rows
    val fine = load(dir).filter(col("time_idx") < 2 && col("coarse_chan") === 1)
    assert(splits(fine) == 1)
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
    // the fixture's geometry cut to one time slice: one partition per
    // file, so one task reads the whole victim and meets the cut mid-read
    val spec = Fits.fixtureSpec.copy(nTimes = VisScan.Slice)
    for ((in, dir) <- writeAll("trunc", spec)) withClue(in.name) {
      val files = VisSource.inputs(dir)(in.ext).map(Paths.get(_))
      val victim = files.head.toRealPath()
      // plan on the intact files (uvh5 keeps its metadata after /Data),
      // then truncate inside the data
      val rdd = load(dir).queryExecution.toRdd
      val ch = java.nio.channels.FileChannel.open(victim,
        java.nio.file.StandardOpenOption.WRITE)
      try ch.truncate(Files.size(victim) / 2) finally ch.close()
      val e = intercept[Exception](rdd.count())
      assert(!openOn(victim))
      // every decoder names the file and the offset
      val c = corruptCause(e)
      assert(Paths.get(c.path).toRealPath() == victim)
      assert(c.offset > 0 && c.offset <= Files.size(victim))
      assert(c.getMessage.contains(c.path) && c.getMessage.contains(s"byte ${c.offset}"),
        c.getMessage)
    }
  }

  /** The fixture's first gpubox file. */
  private lazy val gpubox = Paths.get(VisSource.inputs(Fits.ensureFixture())(".fits").head)

  /** A copy of [[gpubox]], alone in a new directory, with the card that
    * starts with `find` in header record `record` rewritten to `card`,
    * keeping the first `keep` bytes. */
  private def corrupted(record: Int, find: String, card: String,
                        keep: Int = Int.MaxValue): String =
    rewritten(Seq((record, find, card)), keep)

  /** [[corrupted]] with every (record, find, card) edit applied. */
  private def rewritten(edits: Seq[(Int, String, String)], keep: Int = Int.MaxValue): String = {
    val rec = Fits.RecordLen
    val bytes = Files.readAllBytes(gpubox).take(keep)
    for ((record, find, card) <- edits) {
      val text = new String(bytes, record * rec, rec, "US-ASCII")
      val at = record * rec + (0 until rec by Fits.CardLen)
        .find(i => text.startsWith(find, i)).get
      card.getBytes("US-ASCII").copyToArray(bytes, at)
    }
    val dir = Paths.get(tmpDir("graft_fits_corrupt_"))
    Files.write(dir.resolve(gpubox.getFileName), bytes)
    dir.resolve(gpubox.getFileName).toString
  }

  /** The header records of [[gpubox]]'s data and weights HDUs of
    * integration `t`. */
  private def recordsOf(t: Int): Seq[Int] = Fits.readHeaders(gpubox.toString)
    .filter(h => h.has("TIMEIDX") && h.int("TIMEIDX") == t)
    .map(h => (h.offset / Fits.RecordLen).toInt)

  /** The byte offset of [[gpubox]]'s data header of integration `t`. */
  private def dataHeaderOf(t: Int): Long = recordsOf(t).head.toLong * Fits.RecordLen

  test("a FITS header with a size past EOF and 2 GiB, or a bad size card, fails typed") {
    // record 1 is the first data IMAGE header, right after the primary's
    val rec = Fits.RecordLen
    def check(path: String, offset: Long, reason: String) = {
      val c = intercept[CorruptInputException](Fits.readHeaders(path))
      assert(c.path == path && c.offset == offset)
      assert(c.getMessage.contains(path) && c.getMessage.contains(s"byte $offset") &&
        c.getMessage.contains(reason), c.getMessage)
    }
    // 10^8 baselines x 32 float32 = 12.8 GB: past EOF and past 2 GiB,
    // refused at the data unit's offset before anything is allocated,
    // through the source as well
    val huge = corrupted(1, "NAXIS2", Fits.cardInt("NAXIS2", 100000000L))
    check(huge, 2L * rec, "data unit of 12800000000 bytes runs past end of file")
    val e = intercept[Exception](load(Paths.get(huge).getParent.toString).count())
    assert(corruptCause(e).offset == 2L * rec)
    // a malformed or missing size card, at the header's own offset
    check(corrupted(1, "NAXIS2", Fits.card("NAXIS2", "12x")), rec,
      "NAXIS2 = '12x' is not a number")
    check(corrupted(1, "NAXIS2", " " * Fits.CardLen), rec, "missing NAXIS2 card")
    // a header that reaches EOF without its END card, where the file ends
    check(corrupted(0, "END ", " " * Fits.CardLen, keep = rec), rec,
      "header runs past end of file without an END card")
    // a header that loses its END card mid-file no longer merges into what
    // follows, through the source as well: an IMAGE header runs into its
    // data unit, whose first byte outside printable ASCII fails it; the
    // primary runs into the next header's XTENSION card
    def checkRead(path: String, offset: Long, reason: String) = {
      check(path, offset, reason)
      val e = intercept[Exception](load(Paths.get(path).getParent.toString).count())
      assert(corruptCause(e).path == path && corruptCause(e).offset == offset)
    }
    val tableNoEnd = corrupted(1, "END ", " " * Fits.CardLen)
    val bytes = Files.readAllBytes(Paths.get(tableNoEnd))
    val firstBinary =
      (2 * rec until bytes.length).find(i => bytes(i) < 0x20 || bytes(i) > 0x7e).get
    checkRead(tableNoEnd, firstBinary, "is not printable ASCII")
    checkRead(corrupted(0, "END ", " " * Fits.CardLen), rec,
      "XTENSION card inside the header that starts at byte 0: a lost END card")
  }

  test("a gpubox HDU of the wrong BITPIX or shape, or with no weights HDU, fails typed") {
    // the fixture's first integration: its data header in record 1, its
    // 10 x 32 floats in record 2, its weights header in record 3
    val rec = Fits.RecordLen
    def check(path: String, offset: Long, reason: String): Unit = {
      checkTyped(path, offset, reason)(Fits.readHeaders(path))
      checkTyped(path, offset, reason)(load(Paths.get(path).getParent.toString).count())
    }
    check(corrupted(1, "BITPIX", Fits.cardInt("BITPIX", 32)), rec,
      "data HDU has BITPIX = 32, not -32")
    check(corrupted(1, "NAXIS1", Fits.cardInt("NAXIS1", 16)), rec,
      "data HDU is 16 x 10, not 32 x 10")
    check(corrupted(1, "NAXIS2", Fits.cardInt("NAXIS2", 9)), rec,
      "data HDU is 32 x 9, not 32 x 10")
    check(corrupted(3, "NAXIS1", Fits.cardInt("NAXIS1", 1)), 3L * rec,
      "weights HDU is 1 x 10, not 2 x 10")
    // the first weights HDU cut out: integration 1's data HDU follows
    // integration 0's
    val Seq(_, data0, weights0, _*) = Fits.readHeaders(gpubox.toString)
    val bytes = Files.readAllBytes(gpubox)
    val dir = Paths.get(tmpDir("graft_fits_noweights_"))
    val cut = Files.write(dir.resolve(gpubox.getFileName),
      bytes.take(weights0.offset.toInt) ++ bytes.drop(weights0.nextHduOffset.toInt)).toString
    check(cut, data0.nextHduOffset, "integration 0 has no weights HDU")
  }

  test("a gpubox slice's header walk stops past the slice: a corrupt later header fails only its slice") {
    // the NAXIS2 card of TIMEIDX 5's data header made malformed: a read of
    // [0, 4) reads no header of integration 5, a read of [4, 8) reads it
    val hd = Fits.readHeaders(gpubox.toString)
      .find(h => h.has("TIMEIDX") && h.int("TIMEIDX") == 5).get
    val path = corrupted((hd.offset / Fits.RecordLen).toInt, "NAXIS2", Fits.card("NAXIS2", "12x"))
    val dir = Paths.get(path).getParent.toString
    // the earlier slice reads every row, equal to the intact file's
    val chan = Fits.readPrimary(gpubox.toString).int("COARSE")
    val early = load(dir).filter(col("time_idx") < 4)
    val intact = load(Fits.ensureFixture())
      .filter(col("time_idx") < 4 && col("coarse_chan") === chan)
    assert(early.count() == 4L * 10 * 8 * 2)
    assert(early.exceptAll(intact).isEmpty && intact.exceptAll(early).isEmpty)
    // the later slice meets the bad card and fails typed at its header
    val e = intercept[Exception](load(dir).filter(col("time_idx").between(4, 7)).count())
    val c = corruptCause(e)
    assert(c.path == path && c.offset == hd.offset)
    assert(c.getMessage.contains("NAXIS2 = '12x' is not a number"), c.getMessage)
  }

  test("a gpubox file whose integrations are out of order fails typed") {
    // integrations 1 and 2 swap TIMEIDX on both their HDUs: the shapes and
    // the count hold, but position 1 says TIMEIDX 2 and position 2 says 1
    val swapped = rewritten(Seq(1 -> 2, 2 -> 1).flatMap { case (t, to) =>
      recordsOf(t).map(r => (r, "TIMEIDX", Fits.cardInt("TIMEIDX", to)))
    })
    val reason = "TIMEIDX 2 where integration 1 belongs"
    val dir = Paths.get(swapped).getParent.toString
    checkTyped(swapped, dataHeaderOf(1), reason)(Fits.readHeaders(swapped))
    checkTyped(swapped, dataHeaderOf(1), reason)(load(dir).count())
    // a read from integration 2 reads integration 0's pair, then lands on
    // position 2's TIMEIDX 1
    checkTyped(swapped, dataHeaderOf(2), "TIMEIDX 1 where integration 2 belongs")(
      load(dir).filter(col("time_idx") >= 2).count())
  }

  test("a gpubox file whose TIMEIDX skips a value fails typed at the mislabelled header") {
    // integration 2's HDUs cut out and NTIMES 17 -> 16: the 16 integrations
    // carry TIMEIDX 0, 1, 3, ..., 16, so position t >= 2 holds TIMEIDX t + 1
    val Seq(data2, weights2) = Fits.readHeaders(gpubox.toString)
      .filter(h => h.has("TIMEIDX") && h.int("TIMEIDX") == 2)
    val bytes = Files.readAllBytes(Paths.get(corrupted(0, "NTIMES", Fits.cardInt("NTIMES", 16))))
    val dir = Paths.get(tmpDir("graft_fits_skip_"))
    val path = Files.write(dir.resolve(gpubox.getFileName),
      bytes.take(data2.offset.toInt) ++ bytes.drop(weights2.nextHduOffset.toInt)).toString
    checkTyped(path, dataHeaderOf(2), "TIMEIDX 3 where integration 2 belongs")(
      load(dir.toString).count())
    // a read of the last two integrations lands on position 15's TIMEIDX 16
    checkTyped(path, dataHeaderOf(15), "TIMEIDX 16 where integration 15 belongs")(
      load(dir.toString).filter(col("time_idx") >= 15).count())
  }

  /** The uvfits fixture's one file. */
  private lazy val uvfits = Paths.get(VisSource.inputs(Fits.Uvfits.ensureFixture())(".uvfits").head)

  test("a uvfits file that is not random groups, or whose groups are out of time order, fails typed") {
    val spec = Fits.fixtureSpec
    val nBl = Fits.Uvfits.nBaselines(spec.nAnts)
    val head = Fits.readPrimary(uvfits.toString)
    val groupBytes = 4 * Fits.Uvfits.groupFloats(spec)
    def offset(g: Int): Long = head.dataOffset + groupBytes.toLong * g
    /** A copy of [[uvfits]], alone in a new directory, with `patch` applied. */
    def patched(patch: Array[Byte] => Array[Byte]): String = {
      val dir = Paths.get(tmpDir("graft_uvfits_corrupt_"))
      Files.write(dir.resolve(uvfits.getFileName), patch(Files.readAllBytes(uvfits))).toString
    }
    // a read of time_idx < 4 is one slice, [0, 4), failing at `first`; a
    // full read fails in whichever of its 5 slices fails first
    def check(path: String, reason: String, first: Long, others: Long*): Unit = {
      val dir = Paths.get(path).getParent.toString
      val c = corruptCause(intercept[Exception](load(dir).count()))
      assert(c.path == path && (first +: others).contains(c.offset) &&
        c.getMessage.contains(reason), c.getMessage)
      checkTyped(path, first, reason)(load(dir).filter(col("time_idx") < 4).count())
    }
    // no GROUPS card: refused when the scan is planned, at the primary
    check(patched { b =>
      val at = new String(b, 0, head.dataOffset.toInt, "US-ASCII").indexOf("GROUPS  =")
      (" " * Fits.CardLen).getBytes("US-ASCII").copyToArray(b, at)
      b
    }, "not a FITS random-groups (uvfits) file", 0)
    // group 5 (integration 0) dated integration 3
    check(patched { b =>
      ByteBuffer.wrap(b).putFloat((offset(5) + 16).toInt, (3 * spec.dtDays).toFloat)
      b
    }, s"group 5 has DATE ${(3 * spec.dtDays).toFloat}, not integration 0's", offset(5))
    // baseline-major: group bl * NTIMES + t holds (t, bl), so group 1
    // holds integration 1 where integration 0 belongs, and each later
    // slice's first group is misplaced too
    check(patched { b =>
      val out = b.clone()
      for (t <- 0 until spec.nTimes; bl <- 0 until nBl)
        System.arraycopy(b, offset(t * nBl + bl).toInt, out,
          offset(bl * spec.nTimes + t).toInt, groupBytes)
      out
    }, "has DATE", offset(1), (4 until spec.nTimes by VisScan.Slice).map(t => offset(t * nBl)): _*)
  }

  test("a gpubox read seeks to its first integration: an earlier header is never read") {
    // integration 1's data header made malformed: a read from integration
    // 3 seeks by integration 0's stride and never meets it
    val path = corrupted(recordsOf(1).head, "NAXIS2", Fits.card("NAXIS2", "12x"))
    val dir = Paths.get(path).getParent.toString
    val chan = Fits.readPrimary(gpubox.toString).int("COARSE")
    val late = load(dir).filter(col("time_idx") >= 3)
    val intact = load(Fits.ensureFixture())
      .filter(col("time_idx") >= 3 && col("coarse_chan") === chan)
    assert(late.count() == 14L * 10 * 8 * 2)
    assert(late.exceptAll(intact).isEmpty && intact.exceptAll(late).isEmpty)
    checkTyped(path, dataHeaderOf(1), "NAXIS2 = '12x' is not a number")(load(dir).count())
  }

  /** One observation written in all three formats under `name`. */
  private def writeAll(name: String, spec: VisGenerator.Spec): Seq[(Input, String)] = {
    val root = Paths.get(tmpDir(s"graft_vis_${name}_"))
    Seq(
      inputs(0) -> { Fits.writeVis(root.resolve("fits"), spec); root.resolve("fits") },
      inputs(1) -> Fits.Uvfits.write(root.resolve("uvfits"), spec).getParent,
      inputs(2) -> Uvh5.write(root.resolve("uvh5"), spec).getParent)
      .map { case (in, dir) => in -> dir.toString }
  }

  test("an empty input yields an empty result with the schema, or fails naming the path") {
    import graft.mwa.{GraftConfig, MatchFilter, ReadOps, VisOps}
    val empty = Fits.fixtureSpec.copy(nTimes = 0)
    // NTIMES = 0 (gpubox), GCOUNT = 0 (uvfits) and Nblts = 0 (uvh5): empty
    val files = writeAll("empty", empty).map { case (in, dir) => in.name -> dir }
    // a directory holding only a metafits: no visibility file to read
    val metaOnly = Paths.get(tmpDir("graft_vis_metaonly_"))
    Files.write(metaOnly.resolve(s"${empty.obsid}.metafits"), Fits.primary(Seq(
      Fits.cardInt("OBSID", empty.obsid), Fits.cardInt("NCOARSE", empty.nCoarse))))
    val cfg = GraftConfig()
    val layout = ReadOps.FreqLayout(empty.freq0Hz, empty.dfHz, empty.nFine)
    def chain(dir: String) = MatchFilter(VisOps.ins(VisOps.diff(VisOps.selectSurface(
      ReadOps.readChain(load(dir), cfg, layout), cfg))), cfg)
    for ((name, dir) <- files) withClue(name) {
      val scan = load(dir)
      assert(scan.schema == VisSource.schema)
      assert(scan.collect().isEmpty && scan.count() == 0)
      assert(chain(dir).collect().isEmpty)
    }
    for (read <- Seq[String => Any](load(_).collect(), chain(_).collect())) {
      val e = intercept[IllegalArgumentException](read(metaOnly.toString))
      assert(e.getMessage.contains(metaOnly.toString), e.getMessage)
    }
  }

  /** Row counts of every batch the source's columnar readers return for
    * `dir` with `required` columns. */
  private def batchRows(dir: String, required: StructType): Seq[Int] = {
    val b = new VisScanBuilder(dir)
    b.pruneColumns(required)
    val batch = b.build().toBatch
    val factory = batch.createReaderFactory()
    batch.planInputPartitions().toSeq.flatMap { p =>
      assert(factory.supportColumnarReads(p))
      val r = factory.createColumnarReader(p)
      try Iterator.continually(r.next()).takeWhile(identity).map(_ => r.get().numRows()).toList
      finally r.close()
    }
  }

  test("chunk boundaries inside an HDU, a group slice and a blt slice lose no row") {
    // 13 antennas (91 baselines) x 46 channels x 2 pols: a gpubox HDU holds
    // 4186 = 4096 + 90 rows, a uvfits group or uvh5 blt row 92 cells (44
    // per chunk), a 3-integration slice 25116 rows; then 2080 channels: one
    // group or blt row holds 4160 = 4096 + 64 cells, split across chunks
    val geometries = Seq(
      "hdu" -> VisGenerator.Spec(nTimes = 3, nAnts = 13, nCoarse = 2, nFine = 23),
      "split" -> VisGenerator.Spec(nTimes = 2, nAnts = 2, nCoarse = 2, nFine = 1040))
    for ((name, spec) <- geometries; (in, dir) <- writeAll(name, spec))
      withClue(s"$name ${in.name}") {
        val nFreq = spec.nCoarse * spec.nFine
        val cells = (0 until spec.nTimes).flatMap(t =>
          VisGenerator.portableCells(spec, t, 0 until nFreq))
        val got = load(dir).agg(count(lit(1)), sum("vis_re")).head()
        assert(got.getLong(0) == cells.length)
        assert(got.getDouble(1) == cells.map(_.re).sum)
        val expected = VisGenerator.portable(spark, spec)
        assert(load(dir).exceptAll(expected).isEmpty)
        assert(expected.exceptAll(load(dir)).isEmpty)
        val rows = batchRows(dir, VisSource.schema)
        assert(rows.sum == cells.length && rows.max <= VisSource.Chunk)
        assert(rows.length > 1 + in.files)
      }
  }

  test("the executed plan reads columnar batches: a BatchScan under ColumnarToRow") {
    for (in <- inputs) withClue(in.name) {
      val q = load(in.dir()).filter(col("time_idx") < 4).select("vis_re", "pol")
      assert(q.count() == 4 * 10 * 16 * 2)
      // whole-stage codegen puts an InputAdapter between the two
      val plan = q.queryExecution.executedPlan
      val columnar = plan.collect { case c: ColumnarToRowExec => c.child }
        .flatMap(_.collect { case b: BatchScanExec => b })
      assert(columnar.length == 1 && columnar.head.supportsColumnar)
      assert(plan.collect { case b: BatchScanExec => b } == columnar)
    }
  }

  test("count(*) prunes every column and still counts every row") {
    for (in <- inputs) withClue(in.name) {
      val df = load(in.dir())
      assert(scanOutput(df.groupBy().count()).isEmpty)
      assert(df.count() == 5440)
      assert(df.filter(col("time_idx") < 4).count() == 4 * 10 * 16 * 2)
      assert(batchRows(in.dir(), new StructType()).sum == 5440)
    }
  }

  private def datasetsOf(path: String): Map[String, Hdf5.Ds] = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try Hdf5.datasets(raf, path) finally raf.close()
  }

  /** A copy of the uvh5 fixture with `patch` applied to its bytes, cut to
    * its first `keep` bytes. */
  private def patchedUvh5(patch: (Array[Byte], Map[String, Hdf5.Ds]) => Unit,
                          keep: Int = Int.MaxValue): String = {
    val src = VisSource.inputs(Uvh5.ensureFixture())(".uvh5").head
    val bytes = Files.readAllBytes(Paths.get(src))
    patch(bytes, datasetsOf(src))
    val dir = Paths.get(tmpDir("graft_uvh5_corrupt_"))
    Files.write(dir.resolve(Paths.get(src).getFileName), bytes.take(keep)).toString
  }

  private def le(bytes: Array[Byte]) = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)

  private def checkTyped(path: String, offset: Long, reason: String)(e: => Any): Unit = {
    val c = corruptCause(intercept[Exception](e))
    assert(c.path == path && c.offset == offset)
    assert(c.getMessage.contains(path) && c.getMessage.contains(s"byte $offset") &&
      c.getMessage.contains(reason), c.getMessage)
  }

  test("a uvh5 whose visdata length points past EOF fails typed, before allocating") {
    // the contiguous-layout message body: version 3, class 1, address, length
    var visAddr = 0L
    val path = patchedUvh5 { (bytes, ds) =>
      val v = ds("Data/visdata")
      visAddr = v.dataAddr
      val body = le(new Array[Byte](18)).put(3.toByte).put(1.toByte)
        .putLong(v.dataAddr).putLong(v.dataLen).array()
      val at = bytes.indexOfSlice(body.toSeq)
      assert(at > 0)
      le(bytes).putLong(at + 10, 1L << 40)
    }
    val reason = "(1099511627776 bytes) runs past end of file"
    checkTyped(path, visAddr, reason)(datasetsOf(path))
    checkTyped(path, visAddr, reason)(load(Paths.get(path).getParent.toString).count())
    // a read of 3 x 10^8 complex64 elements (2.4 GB, past an Int) is sized
    // in Long and refused against the file before anything is allocated
    val src = VisSource.inputs(Uvh5.ensureFixture())(".uvh5").head
    val huge = datasetsOf(src)("Data/visdata").copy(dataLen = 1L << 40)
    val raf = new java.io.RandomAccessFile(src, "r")
    try checkTyped(src, huge.dataAddr, "read of 2400000000 bytes runs past end of file")(
      Hdf5.readBytesOf(raf, src, huge, 0, 300000000))
    finally raf.close()
  }

  test("an HDF5 object header block that claims 2 GiB fails typed, before allocating") {
    // the root object header (address at superblock byte 64): its 4-byte
    // block length at +8, the block itself from +16
    var rootOh = 0L
    val path = patchedUvh5 { (bytes, _) =>
      rootOh = le(bytes).getLong(64)
      le(bytes).putInt((rootOh + 8).toInt, Int.MinValue) // 2^31, unsigned
    }
    val reason = "object header block of 2147483648 bytes runs past end of file"
    checkTyped(path, rootOh + 16, reason)(datasetsOf(path))
    checkTyped(path, rootOh + 16, reason)(load(Paths.get(path).getParent.toString).count())
  }

  test("a uvh5 whose metadata walk meets a bad signature or a short file fails typed") {
    val src = VisSource.inputs(Uvh5.ensureFixture())(".uvh5").head
    val bytes = Files.readAllBytes(Paths.get(src))
    def at(magic: String): Int = bytes.indexOfSlice(magic.getBytes.toSeq)
    def check(path: String, offset: Long, reason: String): Unit = {
      checkTyped(path, offset, reason)(datasetsOf(path))
      checkTyped(path, offset, reason)(load(Paths.get(path).getParent.toString).count())
    }
    check(patchedUvh5((b, _) => b(1) = 'X'), 0, "no HDF5 signature")
    check(patchedUvh5((b, _) => b(13) = 4), 13, "only 8-byte offsets/lengths supported")
    for (magic <- Seq("HEAP", "TREE", "SNOD")) withClue(magic) {
      check(patchedUvh5((b, _) => b(at(magic)) = 'X'), at(magic), s"no $magic signature")
    }
    // entry counts of 65535: sized against the file before the keys or
    // entries are allocated
    val tree = at("TREE")
    check(patchedUvh5((b, _) => le(b).putShort(tree + 6, (-1).toShort)), tree + 24,
      s"B-tree node keys of ${(2 * 65535 + 1) * 8} bytes runs past end of file")
    val snod = at("SNOD")
    check(patchedUvh5((b, _) => le(b).putShort(snod + 6, (-1).toShort)), snod + 8,
      s"symbol table entries of ${40 * 65535} bytes runs past end of file")
    // the root group's structures and object header close the file, after
    // every dataset; a cut anywhere before the object header's 16-byte
    // prefix ends loses it, and a cut inside the superblock loses that
    val rootOh = le(bytes).getLong(64)
    val ns = datasetsOf(src)("Data/nsamples")
    val dataEnd = (ns.dataAddr + ns.dataLen).toInt
    for (keep <- Seq(dataEnd, (dataEnd + rootOh.toInt) / 2, rootOh.toInt, rootOh.toInt + 15))
      withClue(s"cut at $keep") {
        check(patchedUvh5((_, _) => (), keep), rootOh,
          "object header of 16 bytes runs past end of file")
      }
    check(patchedUvh5((_, _) => (), 40), 0, "superblock of 72 bytes runs past end of file")
    check(patchedUvh5((b, _) => b(rootOh.toInt) = 2), rootOh,
      "object header version 2 is not 1")
    // a /Header dataset renamed away fails when the scan is planned, a
    // /Data one when a column that needs it is read
    def renamed(name: String): String = patchedUvh5 { (b, _) =>
      val at = b.indexOfSlice((name + "\u0000").getBytes("US-ASCII").toSeq)
      assert(at > 0)
      b(at + name.length - 1) = 'X'
    }
    val noNfreqs = renamed("Nfreqs")
    checkTyped(noNfreqs, 0, "no Header/Nfreqs dataset")(
      load(Paths.get(noNfreqs).getParent.toString).count())
    val noVisdata = renamed("visdata")
    checkTyped(noVisdata, 0, "no Data/visdata dataset")(
      load(Paths.get(noVisdata).getParent.toString).select("vis_re").collect())
  }
}
