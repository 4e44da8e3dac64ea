package graft.sources

import java.io.{File, RandomAccessFile}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.mwa.{Fits, Hdf5, Uvh5}

/** DataSource V2 over raw visibility files: `format("graft-vis")`.
  * Options: `path`, a directory holding ONE input family (gpubox `.fits`,
  * `.uvfits` or `.uvh5`), and `timeslice`, integrations per partition
  * (default 4).
  *
  * This is the SURVEY §2.1 S2 Phase-2 shape with the reference's one
  * processor interface and a per-format strategy behind it
  * (`processors.py:23-38`): a single [[VisScan]] plans ONE InputPartition
  * PER (file, time-slice) — the two axes the reference's batched reader
  * splits work by (`processors.py:166-172`, gpubox files × time batches;
  * a gpubox file is one coarse channel). Only two things differ per
  * format, both behind [[VisFile]]: the planning-time metadata parse and
  * the decode of one time slice into the 13-column layout. Listing, pruning,
  * projection and the file handle exist once. Implements
  * SupportsPushDownRequiredColumns, so narrow projections (e.g. the
  * metadata-only time scan, S3) hand Spark only the columns they need.
  */
class VisSourceProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-vis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    VisSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new VisTable(VisSource.path(new CaseInsensitiveStringMap(properties)))
}

object VisSource {
  val schema: StructType = StructType(Seq(
    StructField("obsid", LongType, nullable = false),
    StructField("time_idx", IntegerType, nullable = false),
    StructField("time_jd", DoubleType, nullable = false),
    StructField("ant1", IntegerType, nullable = false),
    StructField("ant2", IntegerType, nullable = false),
    StructField("baseline", LongType, nullable = false),
    StructField("coarse_chan", IntegerType, nullable = false),
    StructField("freq_hz", DoubleType, nullable = false),
    StructField("pol", StringType, nullable = false),
    StructField("vis_re", DoubleType, nullable = false),
    StructField("vis_im", DoubleType, nullable = false),
    StructField("flag", BooleanType, nullable = false),
    StructField("nsample", DoubleType, nullable = false)))

  def timeSlice(o: CaseInsensitiveStringMap): Int = o.getInt("timeslice", 4)

  def path(o: CaseInsensitiveStringMap): String =
    Option(o.get("path")).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        "graft-vis needs option 'path': a directory of gpubox .fits, " +
          ".uvfits or .uvh5 files"))

  /** The metadata parse of each decoded family, by file extension. */
  val formats: Map[String, String => VisFile] = Map(
    ".fits" -> FitsFile.open, ".uvfits" -> UvfitsFile.open,
    ".uvh5" -> Uvh5File.open)

  /** The inputs directly under `dir` by extension, each sorted by name:
    * files of a decoded family, and `.ms` table directories. */
  def inputs(dir: String): Map[String, Seq[String]] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File])
      .sortBy(_.getName).toSeq.flatMap { f =>
        (formats.keys.toSeq :+ MsFormat.Ext).find(f.getName.endsWith)
          .filter(ext => f.isDirectory == (ext == MsFormat.Ext))
          .map(_ -> f.getPath)
      }.groupMap(_._1)(_._2)
}

class VisTable(path: String) extends Table with SupportsRead {
  override def name(): String = s"graft_vis $path"
  override def schema(): StructType = VisSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new VisScanBuilder(path, VisSource.timeSlice(options))
}

class VisScanBuilder(path: String, slice: Int)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = VisSource.schema
  private var pushed: Array[sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Accept simple comparisons on the two partition axes (time_idx,
    * coarse_chan) — the reference's `times=…`/gpubox-file selection pushed
    * into the reader (`processors.py:170-172`). Everything is ALSO returned
    * as a residual for Spark to re-check: pushdown here prunes partitions,
    * it does not take over row-level evaluation. */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(VisScan.supported)
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  /** Lists `path` once and picks its one input family; a directory mixing
    * families fails rather than silently reading only one of them. */
  override def build(): Scan = {
    val found = VisSource.inputs(path)
    if (found.size > 1)
      throw new MixedVisFormatsException(
        s"$path holds more than one input family (${found.keys.toSeq.sorted
          .mkString(", ")}); graft-vis reads one family per directory")
    found.headOption match {
      case Some((MsFormat.Ext, ms)) => throw MsFormat.unsupported(ms)
      case Some((ext, files)) =>
        new VisScan(path, ext, files, slice, required, pushed)
      case None => throw new IllegalArgumentException(
        s"No gpubox .fits, .uvfits or .uvh5 files under $path")
    }
  }
}

class MixedVisFormatsException(msg: String) extends IllegalArgumentException(msg)

/** CASA MeasurementSet: typed + validated as an input family
  * (`mwa/FileSet.scala`, `mwa/Validation.scala` — the reference accepts
  * `ms` through pyuvdata, `configurators.py:43-48`) but DELIBERATELY not
  * decoded. The deciding difference from the uvfits/uvh5 decoders: FITS
  * and HDF5 are publicly SPECIFIED, self-describing container formats
  * (NASA FITS standard; the HDF5 file-format spec), so a from-scratch
  * decoder can be written to the spec and certified by round-trip. The
  * CASA Table Data System's on-disk layout (AipsIO object streams +
  * StandardStMan bucket files across a directory of tables) is defined
  * only by the casacore implementation — no byte-level spec exists to
  * build against, and with no casacore available there are no
  * reference-written bytes to certify a decoder against. A decoder that
  * merely round-trips its own guess at that layout would CLAIM
  * casacore compatibility without evidence; failing loudly with the
  * conversion path (every MS exports losslessly to uvfits/uvh5, both
  * decoded natively here) is the honest contract. */
object MsFormat {
  val Ext = ".ms"
  def hasMs(path: String): Boolean = VisSource.inputs(path).contains(Ext)
  def unsupported(found: Seq[String]): MsNotSupportedException =
    new MsNotSupportedException(
      s"CASA MeasurementSet input is typed and validated but not decoded " +
        s"(found: ${found.mkString(", ")}). The CASA Table Data " +
        "System has no public byte-level specification to decode against " +
        "(its layout is defined by the casacore implementation only). " +
        "Convert to uvfits or uvh5 — both are decoded natively by this " +
        "source (e.g. pyuvdata: UVData.from_file(ms).write_uvh5(...)).")
}

class MsNotSupportedException(msg: String)
    extends UnsupportedOperationException(msg)

object VisScan {
  private val axes = Set("time_idx", "coarse_chan")
  def supported(f: sources.Filter): Boolean = f match {
    case sources.EqualTo(a, _) => axes(a)
    case sources.LessThan(a, _) => axes(a)
    case sources.LessThanOrEqual(a, _) => axes(a)
    case sources.GreaterThan(a, _) => axes(a)
    case sources.GreaterThanOrEqual(a, _) => axes(a)
    case sources.In(a, _) => axes(a)
    case _ => false
  }

  /** Does value v satisfy filter f on axis `name`? (non-matching filters
    * pass vacuously — they constrain the other axis) */
  private def sat(f: sources.Filter, name: String, v: Int): Boolean = f match {
    case sources.EqualTo(a, x: Int) if a == name => v == x
    case sources.LessThan(a, x: Int) if a == name => v < x
    case sources.LessThanOrEqual(a, x: Int) if a == name => v <= x
    case sources.GreaterThan(a, x: Int) if a == name => v > x
    case sources.GreaterThanOrEqual(a, x: Int) if a == name => v >= x
    case sources.In(a, xs) if a == name => xs.exists(_ == v)
    case _ => true
  }

  /** Can a partition of time slice [t0, t1) hold a row the pushed filters
    * accept? `chan` is the partition's one coarse channel, or None when
    * it spans them all (coarse_chan filters then stay residual). */
  def keep(chan: Option[Int], t0: Int, t1: Int,
           pushed: Array[sources.Filter]): Boolean =
    chan.forall(c => pushed.forall(f => sat(f, "coarse_chan", c))) &&
      (t0 until t1).exists(t => pushed.forall(f => sat(f, "time_idx", t)))
}

/** The scan over one directory's files of family `ext`: parses each
  * file's metadata once, at planning time (no payload bytes)
  * and plans one partition per (file, time-slice) that the pushed
  * time_idx/coarse_chan filters keep. */
class VisScan(path: String, ext: String, files: Seq[String], slice: Int,
              required: StructType, pushed: Array[sources.Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-vis $ext path=$path PushedFilters: [${pushed.mkString(", ")}]"

  private lazy val parsed: Seq[VisFile] = files.map(VisSource.formats(ext))

  override def planInputPartitions(): Array[InputPartition] =
    (for {
      f <- parsed
      t0 <- 0 until f.nTimes by slice
      t1 = math.min(t0 + slice, f.nTimes)
      if VisScan.keep(f.coarseChan, t0, t1, pushed)
    } yield VisPartition(f, t0, t1): InputPartition).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new VisReaderFactory(required)
}

case class VisPartition(file: VisFile, timeStart: Int, timeEnd: Int)
    extends InputPartition

class VisReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new VisPartitionReader(partition.asInstanceOf[VisPartition], required)
}

/** Reads one partition: owns the file handle and projects the decoder's
  * full rows onto `required`, with the column ordinals resolved once. If
  * setup (the decoder's eager reads) throws, the handle is closed here —
  * Spark only closes readers it got back. */
class VisPartitionReader(part: VisPartition, required: StructType)
    extends PartitionReader[InternalRow] {
  private val raf = new RandomAccessFile(part.file.path, "r")
  private val rows: Iterator[Array[Any]] =
    try part.file.decode(raf, part.timeStart, part.timeEnd)
    catch { case e: Throwable => raf.close(); throw e }
  private val ordinals = required.fieldNames.map(VisSource.schema.fieldIndex)

  private var current: InternalRow = _
  override def next(): Boolean = rows.hasNext && {
    val full = rows.next()
    current = new GenericInternalRow(ordinals.map(i => full(i)))
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = raf.close()
}

/** One input file with its planning metadata, parsed once when the scan
  * is planned and carried in every partition of the file. */
sealed trait VisFile extends Serializable {
  def path: String
  def nTimes: Int
  /** The file's one coarse channel, if it holds only one (gpubox). */
  def coarseChan: Option[Int]
  /** Time slice [t0, t1) of the file open in `raf` as full rows in
    * [[VisSource.schema]] order. Eager reads happen before this returns. */
  def decode(raf: RandomAccessFile, t0: Int, t1: Int): Iterator[Array[Any]]
}

/** A gpubox FITS file: one coarse channel, one BINTABLE HDU per
  * integration; planning reads its primary header only. */
case class FitsFile(path: String, obsid: Long, chan: Int, nTimes: Int,
                    nFine: Int, freq0Hz: Double, dfHz: Double) extends VisFile {
  override def coarseChan: Option[Int] = Some(chan)

  /** Walks the HDU headers sequentially (cheap: 2880-byte records) and
    * decodes only the data units whose TIMEIDX falls in the slice. */
  override def decode(raf: RandomAccessFile, t0: Int, t1: Int): Iterator[Array[Any]] = {
    val hdus = Seq.newBuilder[Fits.Header]
    var next = Fits.readHeader(raf, 0L, path)
    while (next.isDefined) {
      val hd = next.get
      if (hd.has("TIMEIDX") && hd.int("TIMEIDX") >= t0 && hd.int("TIMEIDX") < t1)
        hdus += hd
      next = Fits.readHeader(raf, hd.nextHduOffset, path)
    }
    val colOf = FitsFile.colOf
    hdus.result().iterator.flatMap { h =>
      val t = h.int("TIMEIDX")
      val jd = h.double("TIMEJD")
      Fits.readRows(raf, h).map { r =>
        val a1 = r(colOf("ANT1")).asInstanceOf[Int]
        val a2 = r(colOf("ANT2")).asInstanceOf[Int]
        val freqIdx = chan * nFine + r(colOf("FINECH")).asInstanceOf[Int]
        Array[Any](
          obsid, t, jd, a1, a2, a1.toLong * 2048 + a2,
          chan, freq0Hz + freqIdx * dfHz,
          UTF8String.fromString(r(colOf("POL")).asInstanceOf[String]),
          r(colOf("VISRE")).asInstanceOf[Double],
          r(colOf("VISIM")).asInstanceOf[Double],
          r(colOf("FLAG")).asInstanceOf[Boolean],
          r(colOf("NSAMP")).asInstanceOf[Double])
      }
    }
  }
}

object FitsFile {
  private val colOf = Fits.VisFields.map(_.name).zipWithIndex.toMap

  def open(path: String): FitsFile = {
    val h = Fits.readPrimary(path)
    FitsFile(path, h.long("OBSID"), h.int("COARSE"), h.int("NTIMES"),
      h.int("NFINE"), h.double("FREQ0"), h.double("DFHZ"))
  }
}

/** A uvfits (FITS random-groups) file: whole-observation geometry from
  * its primary header. A group is one (time, baseline) visibility over the
  * full frequency axis, so a time slice is a seek to group t0*nBaselines
  * while coarse_chan filters stay residual (the reference's pyuvdata read
  * has the same shape: `select` on times subsets groups, frequencies
  * post-filter). */
case class UvfitsFile(path: String, head: Fits.Header, obsid: Long,
                      nTimes: Int, nAnts: Int, nFine: Int, nCoarse: Int,
                      pols: Seq[String], freq0Hz: Double, dfHz: Double,
                      jd0: Double, dtDays: Double) extends VisFile {
  override def coarseChan: Option[Int] = None

  /** Unpacks each group's AIPS baseline code and DATE offset and emits one
    * row per (freq, pol) cell. time_idx/time_jd are re-derived from the
    * header's time grid so float32 DATE rounding cannot leak into the
    * output. */
  override def decode(raf: RandomAccessFile, t0: Int, t1: Int): Iterator[Array[Any]] = {
    val nBl = Fits.Uvfits.nBaselines(nAnts)
    val nPol = pols.length
    val nFreq = nCoarse * nFine
    val polU = pols.map(UTF8String.fromString).toArray
    Fits.Uvfits.readGroups(raf, head, t0 * nBl, t1 * nBl).zipWithIndex
      .flatMap { case ((params, data), i) =>
        val bl = math.round(params(3)).toInt
        val a1 = bl / 256 - 1
        val a2 = bl % 256 - 1
        if (a1 < 0 || a2 < a1 || a2 >= nAnts)
          throw new IllegalStateException(s"$path: group ${t0 * nBl + i} " +
            s"has baseline code $bl (ant1=$a1, ant2=$a2), outside " +
            s"0 <= ant1 <= ant2 < NANTS=$nAnts")
        val t = math.round(params(4) / dtDays).toInt
        val jd = jd0 + t * dtDays
        for (f <- (0 until nFreq).iterator; pi <- (0 until nPol).iterator) yield {
          val base = (f * nPol + pi) * 3
          val wt = data(base + 2)
          Array[Any](
            obsid, t, jd, a1, a2, a1.toLong * 2048 + a2,
            f / nFine, freq0Hz + f * dfHz, polU(pi),
            data(base).toDouble, data(base + 1).toDouble,
            wt <= 0f, math.abs(wt).toDouble)
        }
      }
  }
}

object UvfitsFile {
  def open(path: String): UvfitsFile = {
    val h = Fits.readPrimary(path)
    require(h.has("GROUPS") && h.int("PCOUNT") > 0,
      s"$path is not a FITS random-groups (uvfits) file")
    UvfitsFile(path, h, h.long("OBSID"), h.int("NTIMES"), h.int("NANTS"),
      h.int("NFINE"), h.int("NCOARSE"), h.str("POLS").split(',').toSeq,
      h.double("FREQ0"), h.double("DFHZ"), h.double("JD0"), h.double("DTDAYS"))
  }
}

/** A uvh5 (HDF5) file: its dataset map and the /Header scalars + tiny
  * freq/pol arrays. The /Data arrays are blt-major with contiguous layout,
  * so a time slice is a contiguous element range of every dataset —
  * pruning is a seek, like the uvfits group seek; coarse_chan filters stay
  * residual (each blt row carries the whole frequency axis). */
case class Uvh5File(path: String, ds: Map[String, Hdf5.Ds], obsid: Long,
                    nTimes: Int, nBls: Int, nFine: Int, freqs: Array[Double],
                    pols: Seq[String]) extends VisFile {
  override def coarseChan: Option[Int] = None

  /** One bulk read per dataset over the slice's element range
    * [blt0*F*P, blt1*F*P) — bytes outside the slice are never touched.
    * time_idx is the blt's time ordinal (blt / Nbls), bit-identical to the
    * other decoders. */
  override def decode(raf: RandomAccessFile, t0: Int, t1: Int): Iterator[Array[Any]] = {
    val nFreq = freqs.length
    val nPol = pols.length
    val polU = pols.map(UTF8String.fromString).toArray
    val blt0 = t0 * nBls
    val nBlt = (t1 - t0) * nBls
    val cell0 = blt0.toLong * nFreq * nPol
    val cells = nBlt * nFreq * nPol
    val ant1 = Hdf5.readLongs(raf, ds("Header/ant_1_array"), blt0, nBlt)
    val ant2 = Hdf5.readLongs(raf, ds("Header/ant_2_array"), blt0, nBlt)
    // time_jd comes from time_array VERBATIM (pyuvdata semantics) — deriving
    // the grid step by subtracting two ~2.46e6 JDs cancels ~18 bits and
    // perturbs reconstructed times in the last ulps
    val timeJd = Hdf5.readDoubles(raf, ds("Header/time_array"), blt0, nBlt)
    val vis = Hdf5.readBytesOf(raf, ds("Data/visdata"), cell0, cells)
    val flg = Hdf5.readBytesOf(raf, ds("Data/flags"), cell0, cells)
    val nsm = Hdf5.readBytesOf(raf, ds("Data/nsamples"), cell0, cells)
    (0 until nBlt).iterator.flatMap { b =>
      val t = (blt0 + b) / nBls
      val jd = timeJd(b)
      val a1 = ant1(b).toInt
      val a2 = ant2(b).toInt
      for (f <- (0 until nFreq).iterator; pi <- (0 until nPol).iterator) yield {
        val c = (b * nFreq + f) * nPol + pi
        Array[Any](
          obsid, t, jd, a1, a2, a1.toLong * 2048 + a2,
          f / nFine, freqs(f), polU(pi),
          vis.getFloat(8 * c).toDouble, vis.getFloat(8 * c + 4).toDouble,
          flg.get(c) != 0, nsm.getFloat(4 * c).toDouble)
      }
    }
  }
}

object Uvh5File {
  /** Parses the dataset map and the /Header metadata through one handle;
    * no /Data bytes are touched. */
  def open(path: String): Uvh5File = {
    val raf = new RandomAccessFile(path, "r")
    try {
      val ds = Hdf5.datasets(raf, path)
      def scalar(n: String): Long = Hdf5.readLongs(raf, ds(s"Header/$n"), 0, 1)(0)
      val nFreq = scalar("Nfreqs").toInt
      val nPol = scalar("Npols").toInt
      Uvh5File(path, ds, scalar("obsid"), scalar("Ntimes").toInt,
        scalar("Nbls").toInt, scalar("nfine").toInt,
        Hdf5.readDoubles(raf, ds("Header/freq_array"), 0, nFreq),
        Hdf5.readLongs(raf, ds("Header/polarization_array"), 0, nPol)
          .map(Uvh5.PolName).toSeq)
    } finally raf.close()
  }
}
