package graft.mwa

import java.io.{BufferedOutputStream, DataOutputStream, FileOutputStream, RandomAccessFile}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

/** Real FITS binary I/O (NASA FITS 4.0 standard: 2880-byte logical records,
  * 80-character header cards, big-endian BINTABLE extensions) — the actual
  * on-disk input family of the reference pipeline (gpubox FITS files read
  * via mwalib/pyuvdata, `processors.py:163-172`).
  *
  * Layout written/read here (gpubox-shaped): one file per coarse channel,
  * named `<obsid>_gpubox<NN>_00.fits`; a primary HDU carrying the
  * observation geometry as keywords; then ONE BINTABLE HDU PER INTEGRATION
  * (the gpubox convention of an HDU per timestep), each row a
  * (ant1, ant2, fine_chan, pol) visibility sample. The DSv2 source plans
  * one Spark partition per (file, time-slice) and the reader decodes only
  * the HDUs inside its slice — so time/channel pushdown prunes real bytes,
  * exactly like the reference's gpubox-file x time-batch read planning.
  *
  * The reader is a generic BINTABLE layout ([[Fits.Table]]): it finds each
  * column by its TTYPEn and its byte offset from the TFORMn widths, not
  * from a struct hardcoded to this writer, so any standard-conforming
  * table with these column names decodes, whatever its column order or
  * extra columns.
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

  final case class Field(name: String, tform: String)

  /** Bytes per element for a TFORM type code. */
  private def elemSize(c: Char): Int = c match {
    case 'J' => 4; case 'D' => 8; case 'E' => 4; case 'K' => 8
    case 'L' => 1; case 'A' => 1; case 'I' => 2; case 'B' => 1
    case other => throw new IllegalArgumentException(s"Unsupported TFORM type $other")
  }

  private def tformCount(tform: String): Int = {
    val digits = tform.takeWhile(_.isDigit)
    if (digits.isEmpty) 1 else digits.toInt
  }
  private def tformType(tform: String): Char = tform.dropWhile(_.isDigit).head

  private def fieldBytes(f: Field): Int = tformCount(f.tform) * elemSize(tformType(f.tform))

  def rowBytes(fields: Seq[Field]): Int = fields.map(fieldBytes).sum

  /** Serialize one BINTABLE HDU (header + big-endian data, both padded to
    * the 2880-byte record boundary). `rows` supplies one Seq[Any] per row,
    * aligned with `fields` (Int/Double/Boolean/String). */
  def binTable(fields: Seq[Field], rows: Iterator[Seq[Any]], nRows: Int,
               extra: Seq[String] = Nil): Array[Byte] = {
    val nax1 = rowBytes(fields)
    val header = endPad(
      Seq(
        card("XTENSION", "BINTABLE", quoted = true),
        cardInt("BITPIX", 8), cardInt("NAXIS", 2),
        cardInt("NAXIS1", nax1), cardInt("NAXIS2", nRows),
        cardInt("PCOUNT", 0), cardInt("GCOUNT", 1),
        cardInt("TFIELDS", fields.length)) ++
      fields.zipWithIndex.flatMap { case (f, i) =>
        Seq(card(s"TTYPE${i + 1}", f.name, quoted = true),
          card(s"TFORM${i + 1}", f.tform, quoted = true))
      } ++ extra)
    val data = ByteBuffer.allocate(nax1 * nRows + dataPad(nax1.toLong * nRows))
    rows.foreach { r =>
      fields.zip(r).foreach { case (f, v) =>
        (tformType(f.tform), v) match {
          case ('J', x: Int) => data.putInt(x)
          case ('D', x: Double) => data.putDouble(x)
          case ('L', x: Boolean) => data.put(if (x) 'T'.toByte else 'F'.toByte)
          case ('A', x: String) =>
            data.put(pad(x, tformCount(f.tform)).getBytes(StandardCharsets.US_ASCII))
          case (t, x) => throw new IllegalArgumentException(
            s"Field ${f.name}: cannot encode $x as TFORM $t")
        }
      }
    }
    header ++ data.array()
  }

  def primary(extra: Seq[String]): Array[Byte] = endPad(
    Seq(cardBool("SIMPLE", true), cardInt("BITPIX", 8),
      cardInt("NAXIS", 0), cardBool("EXTEND", true)) ++ extra)

  // ------------------------------------------------------------------ parsing

  /** The largest single read: the JVM's largest byte array. Reads are
    * chunked, so only one table row or one uvfits group part must fit. */
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

  /** All HDU headers of a file, in order. */
  def readHeaders(path: String): Seq[Header] = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val out = Seq.newBuilder[Header]
      var off = 0L
      var h = readHeader(raf, off, path)
      while (h.isDefined) {
        out += h.get
        off = h.get.nextHduOffset
        h = readHeader(raf, off, path)
      }
      out.result()
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

  /** The row layout of a BINTABLE HDU of the file open in `raf`, from its
    * TTYPEn/TFORMn cards: each named column's byte offset in a row. NAXIS1
    * is checked against the TFORMs and the whole data unit against the
    * file before anything is allocated; rows are then read a chunk at a
    * time into the caller's buffer. */
  final class Table(raf: RandomAccessFile, val header: Header) {
    private val fields = (1 to header.int("TFIELDS"))
      .map(i => Field(header.str(s"TTYPE$i"), header.str(s"TFORM$i")))
    val rowBytes: Long = header.long("NAXIS1")
    val nRows: Long = header.long("NAXIS2")
    if (Fits.rowBytes(fields) != rowBytes)
      throw header.corrupt(s"NAXIS1=$rowBytes does not match TFORMs ${fields.map(_.tform)}")
    checkRead(raf, header.path, header.dataOffset, rowBytes * nRows, "table data unit")
    checkChunk(header, rowBytes, "table row")
    private val offsets: Map[String, (Int, Field)] = fields.map(_.name)
      .zip(fields.scanLeft(0)(_ + fieldBytes(_)).zip(fields)).toMap

    /** Byte offset in a row of column `name`, whose TFORM type must be
      * `code`: one element, or a string of [[width]] bytes for 'A'. */
    def column(name: String, code: Char): Int = {
      val (off, f) = offsets.getOrElse(name, throw header.corrupt(s"no $name column"))
      if (tformType(f.tform) != code || (code != 'A' && tformCount(f.tform) != 1))
        throw header.corrupt(s"column $name has TFORM ${f.tform}, expected type $code")
      off
    }
    /** Elements of column `name`: the bytes of an 'A' string. */
    def width(name: String): Int = tformCount(offsets(name)._2.tform)

    /** Rows per chunk: at most `maxRows`, and at most `maxBytes` unless one
      * row is larger. */
    def chunkRows(maxRows: Int, maxBytes: Int): Int =
      math.max(1L, math.min(maxRows.toLong, maxBytes / math.max(1L, rowBytes))).toInt

    /** Rows [row0, row0 + n) into `buf` from index 0. */
    def read(row0: Long, n: Int, buf: Array[Byte]): Unit = {
      raf.seek(header.dataOffset + row0 * rowBytes)
      raf.readFully(buf, 0, n * rowBytes.toInt)
    }
  }

  // -------------------------------------------------- gpubox-shaped vis files

  val VisFields: Seq[Field] = Seq(
    Field("ANT1", "1J"), Field("ANT2", "1J"), Field("FINECH", "1J"),
    Field("POL", "2A"), Field("VISRE", "1D"), Field("VISIM", "1D"),
    Field("FLAG", "1L"), Field("NSAMP", "1D"))

  /** Write one observation as per-coarse-channel gpubox FITS files whose
    * values are the portable fixture's dyadic arithmetic
    * (VisGenerator.portable, bit-for-bit): re = sky + narrow + streak +
    * noise with sky/noise pure integer residues over 64ths. Returns the
    * written file paths. */
  def writeVis(dir: Path, spec: VisGenerator.Spec): Seq[Path] = {
    Files.createDirectories(dir)
    (0 until spec.nCoarse).map { chan =>
      val path = dir.resolve(f"${spec.obsid}%d_gpubox${chan + 1}%02d_00.fits")
      val out = new DataOutputStream(new BufferedOutputStream(
        new FileOutputStream(path.toFile)))
      try {
        out.write(primary(Seq(
          cardInt("OBSID", spec.obsid), cardInt("COARSE", chan),
          cardInt("NTIMES", spec.nTimes), cardInt("NFINE", spec.nFine),
          cardInt("NANTS", spec.nAnts),
          cardDouble("FREQ0", spec.freq0Hz), cardDouble("DFHZ", spec.dfHz),
          cardDouble("JD0", spec.jd0), cardDouble("DTDAYS", spec.dtDays))))
        val f0 = chan * spec.nFine
        for (t <- 0 until spec.nTimes) {
          val rows = VisGenerator.portableCells(spec, t, f0 until f0 + spec.nFine)
            .map(c => Seq(c.ant1, c.ant2, c.freqIdx - f0, spec.pols(c.polIdx), c.re,
              0.0, false, 1.0))
          out.write(binTable(VisFields, rows,
            Uvfits.nBaselines(spec.nAnts) * spec.nFine * spec.pols.length,
            extra = Seq(cardInt("TIMEIDX", t),
              cardDouble("TIMEJD", spec.jd0 + t * spec.dtDays))))
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
      private def offset(g: Long): Long = header.dataOffset + groupBytes * g

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
    @volatile private var dir: String = _
    def ensureFixture(): String = synchronized {
      if (dir == null) {
        val d = Paths.get(sys.props("java.io.tmpdir"), "graft_uvfits_fixture_v1")
        if (!Files.exists(d.resolve("_SUCCESS"))) {
          write(d, fixtureSpec)
          Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
        }
        dir = d.toString
      }
      dir
    }
  }

  /** The shared FITS fixture for mwa10 (written once per JVM under the
    * system temp dir — same nTimes/nAnts geometry as the mwa04 portable
    * fixture, 2 coarse channels, 5440 rows total). */
  lazy val fixtureSpec: VisGenerator.Spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)

  @volatile private var fixtureDir: String = _
  def ensureFixture(): String = synchronized {
    if (fixtureDir == null) {
      val dir = Paths.get(sys.props("java.io.tmpdir"), "graft_fits_fixture_v1")
      if (!Files.exists(dir.resolve("_SUCCESS"))) {
        writeVis(dir, fixtureSpec)
        Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
      }
      fixtureDir = dir.toString
    }
    fixtureDir
  }
}

/** A FITS or HDF5 input that cannot be decoded as its headers describe
  * it: truncated, a missing or malformed size card, data past the end of
  * the file, or a single row or block too large for one read. The message
  * names the file and the byte offset. */
final class CorruptInputException(val path: String, val offset: Long, reason: String)
    extends java.io.IOException(s"$path: corrupt input at byte $offset: $reason")
