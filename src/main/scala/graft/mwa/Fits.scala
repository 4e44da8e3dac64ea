package graft.mwa

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Real FITS binary I/O (NASA FITS 4.0 standard: 2880-byte logical records,
  * 80-character header cards, big-endian data units) — the actual on-disk
  * input family of the reference pipeline (gpubox FITS files read via
  * mwalib/pyuvdata, `processors.py:163-172`).
  *
  * gpubox layout written and read here, MWAX-shaped: one file per coarse
  * channel, named `<obsid>_gpubox<NN>_00.fits`; a primary HDU carrying the
  * observation geometry as keywords; then, per integration, one float32
  * IMAGE HDU of (re, im) per pol per fine channel, one row per baseline,
  * followed by a float32 weights IMAGE HDU of one weight per (baseline,
  * pol) — the correlator layout mwalib documents for MWAX files. Only the
  * data is stored; a reader derives ant1/ant2, frequency and pol from the
  * position in the array and the primary's keywords. No real MWAX file is
  * in the repository, so this is the shape, not certified compatibility:
  * the writer defines the fixture. Integration t is the file's t-th
  * (data, weights) HDU pair, with TIMEIDX = t: the time index the DSv2
  * source prunes on. It plans one Spark partition per file, over the
  * integrations its time filters keep, and the reader decodes only their
  * HDUs — so time/channel pushdown prunes real bytes, like the
  * reference's gpubox-file x time-batch read planning.
  */
object Fits {

  val RecordLen = 2880
  val CardLen = 80

  // ------------------------------------------------------------- header cards

  private def pad(s: String, n: Int): String =
    if (s.length >= n) s.take(n) else s + (" " * (n - s.length))

  /** Fixed-format FITS card: keyword in cols 1-8, "= " in 9-10, value
    * right-justified to col 30 (strings left-justified, quoted). */
  def card(key: String, value: String, quoted: Boolean = false): String = {
    // a quoted value >= 19 chars would be truncated by pad() and could
    // lose its closing quote — reject rather than emit a malformed card
    require(!quoted || value.length <= 18,
      s"FITS quoted card value too long (${value.length} > 18): $key='$value'")
    val v = if (quoted) pad(s"'${value}'", 20) else {
      val s = value
      if (s.length >= 20) s else (" " * (20 - s.length)) + s
    }
    pad(pad(key, 8) + "= " + v, CardLen)
  }

  def cardInt(key: String, value: Long): String = card(key, value.toString)
  def cardBool(key: String, value: Boolean): String = card(key, if (value) "T" else "F")
  /** %.17E round-trips any IEEE double exactly through parseDouble. */
  def cardDouble(key: String, value: Double): String =
    card(key, "%.17E".format(value))

  private def endPad(cards: Seq[String]): Array[Byte] = {
    val body = cards.mkString + pad("END", CardLen)
    val padded = body + (" " * (RecordLen - body.length % RecordLen) match {
      case s if s.length == RecordLen => ""
      case s => s
    })
    padded.getBytes(StandardCharsets.US_ASCII)
  }

  private def dataPad(len: Long): Int =
    ((RecordLen - len % RecordLen) % RecordLen).toInt

  // ------------------------------------------------------------------ writing

  /** One float32 IMAGE extension of `naxis1` x `naxis2` values: header
    * and big-endian data, each padded to the 2880-byte record. */
  private def image(naxis1: Int, naxis2: Int, values: Iterator[Float],
            extra: Seq[String]): Array[Byte] = {
    val len = 4L * naxis1 * naxis2
    val data = ByteBuffer.allocate((len + dataPad(len)).toInt)
    values.foreach(data.putFloat)
    endPad(Seq(card("XTENSION", "IMAGE", quoted = true), cardInt("BITPIX", -32),
      cardInt("NAXIS", 2), cardInt("NAXIS1", naxis1), cardInt("NAXIS2", naxis2),
      cardInt("PCOUNT", 0), cardInt("GCOUNT", 1)) ++ extra) ++ data.array()
  }

  def primary(extra: Seq[String]): Array[Byte] = endPad(
    Seq(cardBool("SIMPLE", true), cardInt("BITPIX", 8),
      cardInt("NAXIS", 0), cardBool("EXTEND", true)) ++ extra)

  // ------------------------------------------------------------------ parsing

  /** The largest single read: the JVM's largest byte array. Reads are
    * chunked, so only one uvfits group's parameter block must fit. */
  private val MaxReadBytes: Long = Int.MaxValue - 8L

  /** One HDU header of the file at `path`, starting at byte `offset`.
    * Reading a missing or non-numeric keyword fails with a
    * [[CorruptInputException]] at the header's offset. */
  final case class Header(path: String, offset: Long, cards: Map[String, String],
                          dataOffset: Long, dataLen: Long) {
    def corrupt(reason: String): CorruptInputException =
      new CorruptInputException(path, offset, reason)
    private def card(k: String): String =
      cards.getOrElse(k, throw corrupt(s"missing $k card"))
    private def number[T](k: String)(parse: String => T): T = {
      val v = card(k).trim
      try parse(v)
      catch { case _: NumberFormatException => throw corrupt(s"$k = '$v' is not a number") }
    }
    def int(k: String): Int = number(k)(_.toInt)
    def long(k: String): Long = number(k)(_.toLong)
    def double(k: String): Double = number(k)(_.toDouble)
    def str(k: String): String = {
      val v = card(k).trim
      if (v.startsWith("'")) v.stripPrefix("'").takeWhile(_ != '\'').trim else v
    }
    def has(k: String): Boolean = cards.contains(k)
    /** End of this HDU = data offset + data length padded to the record. */
    def nextHduOffset: Long = dataOffset + dataLen + dataPad(dataLen)
  }

  /** Parse one header of `path` starting at `offset`; None at EOF. Reads
    * 2880-byte records until the END card, then sizes the data unit from
    * BITPIX/NAXISn (or NAXIS1*NAXIS2 + PCOUNT for tables) and checks that
    * it fits in the rest of the file. A truncated header, a byte outside
    * printable ASCII (0x20-0x7E), an XTENSION or SIMPLE card after the
    * first (a lost END card, which would otherwise merge two headers), a
    * missing or malformed size card, or a data unit past EOF is a
    * [[CorruptInputException]] that names its byte offset. */
  def readHeader(raf: RandomAccessFile, offset: Long, path: String): Option[Header] = {
    val fileLen = raf.length()
    if (offset >= fileLen) return None
    raf.seek(offset)
    val cards = scala.collection.mutable.LinkedHashMap[String, String]()
    var done = false
    var read = 0L
    val rec = new Array[Byte](RecordLen)
    while (!done) {
      if (offset + read + RecordLen > fileLen)
        throw new CorruptInputException(path, offset + read,
          "header runs past end of file without an END card")
      raf.readFully(rec)
      var bad = 0
      while (bad < RecordLen && rec(bad) >= 0x20 && rec(bad) <= 0x7e) bad += 1
      if (bad < RecordLen)
        throw new CorruptInputException(path, offset + read + bad,
          f"header byte 0x${rec(bad) & 0xff}%02X is not printable ASCII")
      val text = new String(rec, StandardCharsets.US_ASCII)
      for (i <- 0 until RecordLen / CardLen; if !done) {
        val c = text.substring(i * CardLen, (i + 1) * CardLen)
        val key = c.take(8).trim
        if ((key == "XTENSION" || key == "SIMPLE") && read + i > 0)
          throw new CorruptInputException(path, offset + read + i * CardLen,
            s"$key card inside the header that starts at byte $offset: a lost END card")
        if (key == "END") done = true
        else if (key.nonEmpty && c.length > 10 && c(8) == '=')
          cards(key) = c.substring(10).takeWhile(_ != '/').trim match {
            case s if s.startsWith("'") => c.substring(10).trim // keep quotes
            case s => s
          }
      }
      read += RecordLen
    }
    val h = Header(path, offset, cards.toMap, offset + read, 0L)
    def size(k: String, v: Long): Long =
      if (v < 0) throw h.corrupt(s"$k = $v is negative") else v
    def optional(k: String, dflt: Long): Long = if (h.has(k)) h.long(k) else dflt
    val naxis = size("NAXIS", optional("NAXIS", 0L))
    val bitpix = math.abs(optional("BITPIX", 8L))
    val axes = (1L to naxis).map(i => size(s"NAXIS$i", h.long(s"NAXIS$i")))
    val pcount = size("PCOUNT", optional("PCOUNT", 0L))
    val gcount = size("GCOUNT", optional("GCOUNT", 1L))
    // FITS 4.0 §7: random-groups records (GROUPS=T, NAXIS1=0) size as
    // BITPIX/8 * GCOUNT * (PCOUNT + NAXIS2*...*NAXISn); everything else as
    // prod(NAXISn) * BITPIX/8 + PCOUNT (heap bytes for BINTABLE).
    val isGroups = cards.get("GROUPS").exists(_.trim == "T")
    def product(xs: Seq[Long]): Long = xs.foldLeft(1L)(Math.multiplyExact)
    val dataLen =
      try {
        if (naxis == 0) 0L
        else if (isGroups && axes.headOption.contains(0L))
          product(Seq(bitpix / 8, gcount, Math.addExact(pcount, product(axes.drop(1)))))
        else Math.addExact(product(axes :+ bitpix / 8), pcount)
      } catch {
        case _: ArithmeticException => throw h.corrupt("data unit size overflows a Long")
      }
    if (dataLen > fileLen - h.dataOffset)
      throw new CorruptInputException(path, h.dataOffset,
        s"data unit of $dataLen bytes runs past end of file ($fileLen bytes)")
    Some(h.copy(dataLen = dataLen))
  }

  /** All HDU headers of a file, in order. A primary header with a COARSE
    * card declares a gpubox file, whose NTIMES integrations are read and
    * checked as [[integrations]] reads them. */
  def readHeaders(path: String): Seq[Header] = {
    val raf = new RandomAccessFile(path, "r")
    try readHeader(raf, 0L, path) match {
      case Some(p) if p.has("COARSE") => p +: integrations(raf, p).flatMap(i => Seq(i._1, i._2))
      case first => Iterator.iterate(first)(_.flatMap(h => readHeader(raf, h.nextHduOffset, path)))
        .takeWhile(_.isDefined).map(_.get).toList
    } finally raf.close()
  }

  /** The primary header alone: what scan planning needs, without walking
    * the file's other HDUs. */
  def readPrimary(path: String): Header = {
    val raf = new RandomAccessFile(path, "r")
    try readHeader(raf, 0L, path).getOrElse(
      throw new CorruptInputException(path, 0L, "empty file"))
    finally raf.close()
  }

  /** Check that `bytes` from `offset` lie inside the file, before
    * anything is allocated or read for them. */
  private def checkRead(raf: RandomAccessFile, path: String, offset: Long,
                        bytes: Long, what: String): Unit =
    if (bytes > raf.length() - offset)
      throw new CorruptInputException(path, offset,
        s"$what of $bytes bytes runs past end of file (${raf.length()} bytes)")

  /** Check that one chunk's read of `bytes` fits a byte array. */
  private def checkChunk(h: Header, bytes: Long, what: String): Unit =
    if (bytes > MaxReadBytes)
      throw h.corrupt(s"$what of $bytes bytes exceeds the $MaxReadBytes-byte single read")

  // ------------------------------------------------ MWAX-shaped gpubox files

  /** Integrations [`t0`, `t1`) of the gpubox file open in `raf` whose
    * primary header is `primary`, as (data, weights) header pairs; `t1` is
    * bounded by the primary's NTIMES. Integration t is the file's t-th
    * pair: every integration of an MWAX file has one size, so its data
    * header starts at integration 0's offset + t x integration 0's stride
    * (its data header to the end of its weights HDU). Integration 0's pair
    * and the pairs of [`t0`, `t1`) are the only headers read. Each HDU is
    * checked against the shape the primary's NFINE, POLS and NANTS give: a
    * float32 data IMAGE of NFINE x pols x 2 by baselines, then a float32
    * weights IMAGE of pols by baselines, both with TIMEIDX = t. A wrong
    * BITPIX, shape or TIMEIDX is a [[CorruptInputException]] at the
    * offending header's offset, a missing data or weights header one at
    * the offset where it should start, or at the end of a file that ends
    * before it. */
  def integrations(raf: RandomAccessFile, primary: Header, t0: Int = 0,
                   t1: Int = Int.MaxValue): IndexedSeq[(Header, Header)] = {
    val path = primary.path
    val nPol = primary.str("POLS").split(',').length.toLong
    val nBl = Uvfits.nBaselines(primary.int("NANTS")).toLong
    val dataAxis = 2 * nPol * primary.int("NFINE")
    def shaped(h: Header, naxis1: Long, what: String): Header = {
      if (h.int("BITPIX") != -32)
        throw h.corrupt(s"$what HDU has BITPIX = ${h.int("BITPIX")}, not -32")
      if (h.long("NAXIS1") != naxis1 || h.long("NAXIS2") != nBl)
        throw h.corrupt(s"$what HDU is ${h.long("NAXIS1")} x ${h.long("NAXIS2")}, " +
          s"not $naxis1 x $nBl (NAXIS1 x NAXIS2 from NFINE, POLS and NANTS)")
      h
    }
    def missing(t: Int, what: String, at: Long) = new CorruptInputException(path,
      math.min(at, raf.length()), s"integration $t has no $what HDU at byte $at")
    def pair(t: Int, at: Long): (Header, Header) = {
      val data = shaped(readHeader(raf, at, path).getOrElse(throw missing(t, "data", at)),
        dataAxis, "data")
      if (data.int("TIMEIDX") != t)
        throw data.corrupt(s"TIMEIDX ${data.int("TIMEIDX")} where integration $t belongs")
      val weights = readHeader(raf, data.nextHduOffset, path)
        .filter(w => w.has("TIMEIDX") && w.int("TIMEIDX") == t)
        .getOrElse(throw missing(t, "weights", data.nextHduOffset))
      data -> shaped(weights, nPol, "weights")
    }
    val end = math.min(t1, primary.int("NTIMES"))
    if (t0 >= end) IndexedSeq.empty else {
      val first = pair(0, primary.nextHduOffset)
      val stride = first._2.nextHduOffset - first._1.offset
      (t0 until end).map(t => if (t == 0) first else pair(t, first._1.offset + t * stride))
    }
  }

  /** Write one observation as per-coarse-channel gpubox FITS files in the
    * MWAX shape (see [[integrations]]) whose values are the portable
    * fixture's dyadic arithmetic (VisGenerator.portable, bit-for-bit):
    * re = sky + narrow + streak + noise with sky/noise pure integer
    * residues over 64ths, exact in float32. Rows follow
    * `VisGenerator.baselinePairs`; each row holds (re, im) per pol per fine
    * channel. Every weight is 1 (unflagged, one sample). Returns the
    * written file paths. */
  def writeVis(dir: Path, spec: VisGenerator.Spec): Seq[Path] = {
    Files.createDirectories(dir)
    val nBl = Uvfits.nBaselines(spec.nAnts)
    val nPol = spec.pols.length
    (0 until spec.nCoarse).map { chan =>
      val path = dir.resolve(f"${spec.obsid}%d_gpubox${chan + 1}%02d_00.fits")
      val out = new BufferedOutputStream(new FileOutputStream(path.toFile))
      try {
        out.write(primary(Seq(
          cardInt("OBSID", spec.obsid), cardInt("COARSE", chan),
          cardInt("NTIMES", spec.nTimes), cardInt("NFINE", spec.nFine),
          cardInt("NANTS", spec.nAnts), card("POLS", spec.pols.mkString(","), quoted = true),
          cardDouble("FREQ0", spec.freq0Hz), cardDouble("DFHZ", spec.dfHz),
          cardDouble("JD0", spec.jd0), cardDouble("DTDAYS", spec.dtDays))))
        val f0 = chan * spec.nFine
        for (t <- 0 until spec.nTimes) {
          val time = Seq(cardInt("TIMEIDX", t), cardDouble("TIMEJD", spec.jd0 + t * spec.dtDays))
          val vis = VisGenerator.portableCells(spec, t, f0 until f0 + spec.nFine)
            .flatMap(c => Iterator(c.re.toFloat, 0.0f))
          out.write(image(2 * nPol * spec.nFine, nBl, vis, time))
          out.write(image(nPol, nBl, Iterator.fill(nBl * nPol)(1.0f), time))
        }
      } finally out.close()
      path
    }
  }

  // ------------------------------------------------- uvfits (random groups)

  /** uvfits is FITS "random groups" (FITS 4.0 §7): the primary HDU carries
    * the visibility data itself as GCOUNT groups, each PCOUNT float
    * parameters (UU, VV, WW, BASELINE, DATE) followed by a (re, im, weight)
    * × pol × freq float32 array. This is the second on-disk input family the
    * reference accepts (`configurators.py:43-48` routes `*.uvfits` into
    * pyuvdata's `UVData.from_file`). The writer emits one group per
    * (time, baseline) in time-major order with the AIPS baseline convention
    * 256*(ant1+1) + (ant2+1) and DATE as offset-from-JD0 (PZERO5 carries
    * JD0), values bit-equal to the gpubox fixture's dyadic arithmetic —
    * all representable exactly in float32, so the decode certifies
    * round-trip bit-exactly against the same oracle as mwa10. */
  object Uvfits {
    val PCount = 5 // UU VV WW BASELINE DATE

    def nBaselines(nAnts: Int): Int = nAnts * (nAnts + 1) / 2

    def groupFloats(spec: VisGenerator.Spec): Int =
      PCount + 3 * spec.pols.length * spec.nCoarse * spec.nFine

    def write(dir: Path, spec: VisGenerator.Spec): Path = {
      // 256*(ant1+1) + (ant2+1) is only unambiguous for ant2+1 < 256
      require(spec.nAnts <= 255,
        s"uvfits baseline codes hold at most 255 antennas, got nAnts=${spec.nAnts}")
      Files.createDirectories(dir)
      val path = dir.resolve(s"${spec.obsid}.uvfits")
      val nFreq = spec.nCoarse * spec.nFine
      val nPol = spec.pols.length
      val gcount = spec.nTimes * nBaselines(spec.nAnts)
      val header = endPad(Seq(
        cardBool("SIMPLE", true), cardInt("BITPIX", -32),
        cardInt("NAXIS", 4), cardInt("NAXIS1", 0),
        cardInt("NAXIS2", 3), cardInt("NAXIS3", nPol), cardInt("NAXIS4", nFreq),
        cardBool("GROUPS", true), cardInt("PCOUNT", PCount), cardInt("GCOUNT", gcount),
        card("PTYPE1", "UU", quoted = true), card("PTYPE2", "VV", quoted = true),
        card("PTYPE3", "WW", quoted = true),
        card("PTYPE4", "BASELINE", quoted = true),
        card("PTYPE5", "DATE", quoted = true), cardDouble("PZERO5", spec.jd0),
        cardInt("OBSID", spec.obsid), cardInt("NTIMES", spec.nTimes),
        cardInt("NANTS", spec.nAnts), cardInt("NFINE", spec.nFine),
        cardInt("NCOARSE", spec.nCoarse),
        card("POLS", spec.pols.mkString(","), quoted = true),
        cardDouble("FREQ0", spec.freq0Hz), cardDouble("DFHZ", spec.dfHz),
        cardDouble("JD0", spec.jd0), cardDouble("DTDAYS", spec.dtDays)))
      val groupBytes = 4 * groupFloats(spec)
      val dataLen = groupBytes.toLong * gcount
      val data = ByteBuffer.allocate((dataLen + dataPad(dataLen)).toInt)
      // one group per (time, baseline): its parameters ahead of its first
      // cell; array order NAXIS2 (re,im,wt) fastest, then pol, then freq
      for (t <- 0 until spec.nTimes;
           c <- VisGenerator.portableCells(spec, t, 0 until nFreq)) {
        if (c.freqIdx == 0 && c.polIdx == 0) {
          data.putFloat(0.0f).putFloat(0.0f).putFloat(0.0f) // UU VV WW
          data.putFloat((256 * (c.ant1 + 1) + (c.ant2 + 1)).toFloat)
          data.putFloat((t * spec.dtDays).toFloat)
        }
        data.putFloat(c.re.toFloat)
        data.putFloat(0.0f) // im
        data.putFloat(1.0f) // weight > 0 => unflagged, nsample = weight
      }
      val out = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(path.toFile)))
      try { out.write(header); out.write(data.array()) } finally out.close()
      path
    }

    /** The random-groups layout of the uvfits primary HDU `header` of the
      * file open in `raf`: per group, PCOUNT float parameters, then
      * `cells` (re, im, weight) float triples in pol-fastest order. The
      * fixed group size makes a time slice a seek; groups are read a chunk
      * at a time and no byte of a pruned group is read. */
    final class Groups(raf: RandomAccessFile, val header: Header) {
      val pcount: Int = header.int("PCOUNT")
      if (header.int("NAXIS2") != 3)
        throw header.corrupt(s"NAXIS2 = ${header.int("NAXIS2")}, expected 3 (re, im, weight)")
      val cells: Long = (3 to header.int("NAXIS")).map(i => header.long(s"NAXIS$i")).product
      val groupBytes: Long = 4L * pcount + 12L * cells
      checkChunk(header, 4L * pcount, "group parameter block")
      /** The byte offset of group `g`. */
      def offset(g: Long): Long = header.dataOffset + groupBytes * g

      /** Check that groups [g, g + n) lie inside the file. */
      def check(g: Long, n: Long): Unit =
        checkRead(raf, header.path, offset(g), groupBytes * n, s"slice of $n groups")

      /** Whole groups [g, g + n) into `buf` from index 0. */
      def read(g: Long, n: Int, buf: Array[Byte]): Unit = {
        raf.seek(offset(g))
        raf.readFully(buf, 0, (groupBytes * n).toInt)
      }

      /** Group `g`'s parameters, then its cells [a, a + n), into `buf` from
        * index 0: the layout of one group holding only those cells. */
      def readPart(g: Long, a: Int, n: Int, buf: Array[Byte]): Unit = {
        raf.seek(offset(g))
        raf.readFully(buf, 0, 4 * pcount)
        raf.seek(offset(g) + 4L * pcount + 12L * a)
        raf.readFully(buf, 4 * pcount, 12 * n)
      }
    }

    /** The shared uvfits fixture (same geometry/values as the mwa10 gpubox
      * fixture, single random-groups file). */
    def ensureFixture(): String = fixtureDir
    private lazy val fixtureDir = fixture("graft_uvfits_fixture_v1")(write(_, fixtureSpec))
  }

  /** The shared FITS fixture for mwa10 (written once per JVM under the
    * system temp dir — same nTimes/nAnts geometry as the mwa04 portable
    * fixture, 2 coarse channels, 5440 rows total). */
  lazy val fixtureSpec: VisGenerator.Spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)

  def ensureFixture(): String = fixtureDir
  private lazy val fixtureDir = fixture("graft_fits_fixture_v2")(writeVis(_, fixtureSpec))

  /** Directory `name` under the system temp dir, filled by `write` unless
    * an earlier write completed (its `_SUCCESS` marker exists). Each
    * fixture keeps the result in a lazy val, so one JVM writes it once. */
  private[mwa] def fixture(name: String)(write: Path => Any): String = {
    val dir = Paths.get(sys.props("java.io.tmpdir"), name)
    if (!Files.exists(dir.resolve("_SUCCESS"))) {
      write(dir)
      Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    }
    dir.toString
  }
}

/** A FITS or HDF5 input that cannot be decoded as its headers describe
  * it: truncated, a missing or malformed size card, data past the end of
  * the file, or a single row or block too large for one read. The message
  * names the file and the byte offset. */
final class CorruptInputException(val path: String, val offset: Long, reason: String)
    extends java.io.IOException(s"$path: corrupt input at byte $offset: $reason")
