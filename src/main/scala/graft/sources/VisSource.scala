package graft.sources

import java.io.{File, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.util
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions, NullOrdering, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import graft.mwa.{CorruptInputException, Fits, Hdf5, Uvh5, VisGenerator}

/** DataSource V2 over raw visibility files: `format("graft-vis")`.
  * One option: `path`, a directory holding ONE input family (gpubox
  * `.fits`, `.uvfits` or `.uvh5`).
  *
  * This is the SURVEY §2.1 S2 Phase-2 shape with the reference's one
  * processor interface and a per-format strategy behind it
  * (`processors.py:23-38`): a single [[VisScan]] plans the work along
  * the two axes the reference's batched reader splits it by
  * (`processors.py:166-172`, gpubox files × time batches; a gpubox file
  * is one coarse channel): ONE InputPartition per gpubox file, over the
  * integrations the time filters keep, and one per (file, time-slice) of
  * [[VisScan.Slice]] integrations for uvfits and uvh5. Only two things
  * differ per format, both behind [[VisFile]]: the planning-time metadata
  * parse and the fill of one time range, a chunk at a time, into the 13-column
  * layout. Listing, pruning, projection, the file handle and the reused
  * column vectors exist once. The scan is columnar and implements
  * SupportsPushDownRequiredColumns, so narrow projections (e.g. the
  * metadata-only time scan, S3) fill, and read, only the columns they
  * need. Over gpubox files it also reports its layout, (obsid,
  * coarse_chan) key groups (see [[VisScan.outputPartitioning]]), and each
  * split's row order, the SSINS diff window's (see
  * [[VisScan.outputOrdering]]), so the diff window and INS aggregate run
  * with no shuffle and no sort.
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

  /** Rows per columnar batch: a reader's column vectors and raw read
    * buffers are sized by this, never by a data unit. */
  val Chunk = 4096

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
    new VisScanBuilder(path)
}

class VisScanBuilder(path: String)
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
        new VisScan(path, ext, files, required, pushed)
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
  /** Integrations per uvfits or uvh5 partition: a short slice lets time
    * filters prune. A gpubox partition is a whole file instead (see
    * [[VisScan.planInputPartitions]]). */
  val Slice = 4

  /** The order of a gpubox split's rows: the diff window's partition keys,
    * then its order keys (`VisOps.diff`). */
  val Order: Seq[String] =
    Seq("obsid", "coarse_chan", "ant1", "ant2", "pol", "freq_hz", "time_idx")

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
  * file's metadata once, at planning time (no payload bytes), and plans
  * the partitions the pushed time_idx/coarse_chan filters keep: one per
  * gpubox file, covering the integrations from the first to the last one
  * the filters keep, and one per (file, time-slice of [[VisScan.Slice]])
  * for uvfits and uvh5. Over gpubox files it reports both its layout and
  * each split's row order. */
class VisScan(path: String, ext: String, files: Seq[String],
              required: StructType, pushed: Array[sources.Filter])
    extends Scan with Batch with SupportsReportPartitioning with SupportsReportOrdering {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-vis $ext path=$path PushedFilters: [${pushed.mkString(", ")}]"

  private lazy val parsed: Seq[VisFile] = files.map(VisSource.formats(ext))
  private lazy val gpubox = parsed.forall(_.coarseChan.isDefined)
  private lazy val kept: Seq[VisPartition] = parsed.flatMap { f =>
    if (f.coarseChan.isDefined) {
      val ts = (0 until f.nTimes).filter(t => VisScan.keep(f.coarseChan, t, t + 1, pushed))
      ts.headOption.map(t0 => VisPartition(f, t0, ts.last + 1))
    } else for {
      t0 <- 0 until f.nTimes by VisScan.Slice
      t1 = math.min(t0 + VisScan.Slice, f.nTimes)
      if VisScan.keep(None, t0, t1, pushed)
    } yield VisPartition(f, t0, t1)
  }

  override def planInputPartitions(): Array[InputPartition] = kept.toArray

  /** A gpubox file holds one (obsid, coarse_chan), so gpubox splits are
    * key-grouped on `identity(obsid), identity(coarse_chan)`: Spark runs
    * each key's files as one task, and an operator clustered on both keys
    * (and possibly more) needs no exchange. Spark drops the report when
    * the scan's output lacks either column. uvfits and uvh5 files span the
    * band, so they report no layout. */
  override def outputPartitioning(): Partitioning =
    if (gpubox)
      new KeyGroupedPartitioning(Array[Expression](Expressions.identity("obsid"),
        Expressions.identity("coarse_chan")), kept.map(_.key).distinct.length)
    else new UnknownPartitioning(kept.length)

  /** A gpubox split's rows come in [[VisScan.Order]], all ascending, so the
    * diff window over one key group needs no sort. Reported only when the
    * output holds every column of that order; Spark keeps it only for key
    * groups of one split, so two files of one (obsid, coarse_chan) bring
    * the sort back. */
  override def outputOrdering(): Array[SortOrder] =
    if (gpubox && VisScan.Order.forall(required.fieldNames.contains))
      VisScan.Order.map(c => Expressions.sort(Expressions.column(c),
        SortDirection.ASCENDING, NullOrdering.NULLS_FIRST)).toArray
    else Array.empty

  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED
  override def createReaderFactory(): PartitionReaderFactory =
    new VisReaderFactory(required)
}

/** One split: integrations [timeStart, timeEnd) of one file, a whole
  * gpubox file or a uvfits/uvh5 time slice. Its partition key is (obsid,
  * coarse_chan), which Spark asks for only when the scan reports a
  * key-grouped layout, that is for one-channel (gpubox) files. */
case class VisPartition(file: VisFile, timeStart: Int, timeEnd: Int)
    extends HasPartitionKey {
  def key: (Long, Int) = (file.obsid, file.coarseChan.get)
  override def partitionKey(): InternalRow = InternalRow(key._1, key._2)
}

class VisReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new VisPartitionReader(partition.asInstanceOf[VisPartition], required)
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft-vis reads columnar batches only")
}

/** Reads one partition as batches of at most [[VisSource.Chunk]] rows:
  * owns the file handle and one reused [[VisColumns]] holding only the
  * `required` columns. If setup (the decoder's header reads and checks)
  * throws, the handle is closed here — Spark only closes readers it got
  * back. */
class VisPartitionReader(part: VisPartition, required: StructType)
    extends PartitionReader[ColumnarBatch] {
  private val out = new VisColumns(required)
  private val raf = new RandomAccessFile(part.file.path, "r")
  private val fill: () => Int =
    try part.file.decode(raf, part.timeStart, part.timeEnd, out)
    catch { case e: Throwable => raf.close(); throw e }

  override def next(): Boolean = {
    out.reset()
    val n = fill()
    out.batch.setNumRows(n)
    n > 0
  }
  override def get(): ColumnarBatch = out.batch
  override def close(): Unit = try out.batch.close() finally raf.close()
}

/** One reader's reused output: an on-heap vector of [[VisSource.Chunk]]
  * rows per `required` column, batched in `required` order. A column that
  * is not required is null here, so no decoder reads or fills it. */
final class VisColumns(required: StructType) {
  private def vec(name: String): WritableColumnVector =
    if (required.fieldNames.contains(name))
      new OnHeapColumnVector(VisSource.Chunk, VisSource.schema(name).dataType)
    else null
  val obsid: WritableColumnVector = vec("obsid")
  val timeIdx: WritableColumnVector = vec("time_idx")
  val timeJd: WritableColumnVector = vec("time_jd")
  val ant1: WritableColumnVector = vec("ant1")
  val ant2: WritableColumnVector = vec("ant2")
  val baseline: WritableColumnVector = vec("baseline")
  val coarseChan: WritableColumnVector = vec("coarse_chan")
  val freqHz: WritableColumnVector = vec("freq_hz")
  val pol: WritableColumnVector = vec("pol")
  val visRe: WritableColumnVector = vec("vis_re")
  val visIm: WritableColumnVector = vec("vis_im")
  val flag: WritableColumnVector = vec("flag")
  val nsample: WritableColumnVector = vec("nsample")
  private val all = Array(obsid, timeIdx, timeJd, ant1, ant2, baseline,
    coarseChan, freqHz, pol, visRe, visIm, flag, nsample)
  val batch = new ColumnarBatch(
    required.fieldNames.map(n => all(VisSource.schema.fieldIndex(n)): ColumnVector))

  def any(vs: WritableColumnVector*): Boolean = vs.exists(_ != null)
  def reset(): Unit = all.foreach(v => if (v != null) v.reset())

  /** Rows [from, from + n) of one integration: obsid, time_idx, time_jd. */
  def putTime(from: Int, n: Int, obs: Long, t: Int, jd: Double): Unit = {
    if (obsid != null) obsid.putLongs(from, n, obs)
    if (timeIdx != null) timeIdx.putInts(from, n, t)
    if (timeJd != null) timeJd.putDoubles(from, n, jd)
  }

  /** Rows [from, from + n) of one baseline: ant1, ant2, baseline. */
  def putBaseline(from: Int, n: Int, a1: Int, a2: Int): Unit = {
    if (ant1 != null) ant1.putInts(from, n, a1)
    if (ant2 != null) ant2.putInts(from, n, a2)
    if (baseline != null) baseline.putLongs(from, n, a1.toLong * 2048 + a2)
  }
}

/** The (frequency, polarisation) cells of one uvfits group or uvh5 blt
  * row, pol fastest: `hz` per frequency, `nFine` fine channels per coarse
  * channel. */
final class CellAxis(nFine: Int, hz: Array[Double], pols: Seq[String]) {
  private val polBytes = pols.map(_.getBytes(StandardCharsets.UTF_8)).toArray
  val size: Int = hz.length * polBytes.length

  /** Cells [a, a + n) into rows [from, from + n): coarse_chan, freq_hz, pol. */
  def put(out: VisColumns, from: Int, a: Int, n: Int): Unit = {
    val nPol = polBytes.length
    var c = 0
    while (c < n) {
      val f = (a + c) / nPol
      if (out.coarseChan != null) out.coarseChan.putInt(from + c, f / nFine)
      if (out.freqHz != null) out.freqHz.putDouble(from + c, hz(f))
      if (out.pol != null) out.pol.putByteArray(from + c, polBytes((a + c) % nPol))
      c += 1
    }
  }
}

/** One input file with its planning metadata, parsed once when the scan
  * is planned and carried in every partition of the file. */
sealed trait VisFile extends Serializable {
  def path: String
  def obsid: Long
  def nTimes: Int
  /** The file's one coarse channel, if it holds only one (gpubox). */
  def coarseChan: Option[Int]
  /** The decode of time slice [t0, t1) of the file open in `raf` into
    * `out`'s columns, in [[VisSource.schema]] row order: each call of the
    * returned function fills the next chunk of at most
    * [[VisSource.Chunk]] rows and returns its row count, 0 at the end.
    * Header reads and size checks happen before this returns. */
  def decode(raf: RandomAccessFile, t0: Int, t1: Int, out: VisColumns): () => Int
}

/** A gpubox FITS file in the MWAX shape ([[Fits.integrations]]): one
  * coarse channel; per integration a float32 data IMAGE HDU, one row of
  * (fine channel, pol) cells per baseline, and a weights HDU. Planning
  * reads its primary header only. */
case class FitsFile(path: String, head: Fits.Header, obsid: Long, chan: Int,
                    nTimes: Int, nAnts: Int, nFine: Int, pols: Seq[String],
                    freq0Hz: Double, dfHz: Double) extends VisFile {
  override def coarseChan: Option[Int] = Some(chan)

  /** Decodes integrations [t0, t1) in series order, the order
    * [[VisScan.Order]] names: baselines as `VisGenerator.baselinePairs`
    * lists them (ant1, then ant2), then pol by name, then frequency, then
    * time. A group of cells is one baseline's series, (pol, fine channel,
    * integration), walked by a [[GroupCursor]]. Per chunk of baselines it
    * reads, for each integration, one contiguous run of their data rows
    * and one of their weights, then gathers the cells; a baseline larger
    * than a chunk is read once and gathered in parts. So the buffers hold
    * at most max([[VisSource.Chunk]], one baseline's series) cells,
    * whatever the number of baselines. time_idx is the integration's
    * position in the file: [[Fits.integrations]] reads integration t's
    * headers where integration 0's stride puts them and checks that they
    * carry TIMEIDX = t, so a missing, repeated or misplaced integration
    * fails typed rather than yielding fewer, extra or misordered rows.
    * ant1/ant2 come from the row index, freq_hz from COARSE and the
    * fine index, pol from POLS, flag from weight <= 0 and nsample from
    * |weight|, as uvfits does. Only vis_re and vis_im read the data HDU
    * and only flag and nsample the weights HDU. */
  override def decode(raf: RandomAccessFile, t0: Int, t1: Int, out: VisColumns): () => Int = {
    val hdus = Fits.integrations(raf, head, t0, t1)
    val nT = hdus.length
    val jds = hdus.map(_._1.double("TIMEJD")).toArray
    val bls = VisGenerator.baselinePairs(nAnts)
    val nPol = pols.length
    val hz = Array.tabulate(nFine)(k => freq0Hz + (chan * nFine + k) * dfHz)
    // the file's pol and fine-channel indices in ascending name and frequency
    val polAt = pols.indices.sortBy(pols).toArray
    val fineAt = hz.indices.sortBy(hz(_)).toArray
    val polBytes = pols.map(_.getBytes(StandardCharsets.UTF_8)).toArray
    val row = nFine * nPol // cells of one baseline in one integration
    val cur = new GroupCursor(bls.length, nT * row)
    val needVis = out.any(out.visRe, out.visIm)
    val needWts = out.any(out.flag, out.nsample)
    val vis = ByteBuffer.wrap(new Array[Byte](if (needVis) 8 * cur.perChunk * nT * row else 0))
    val wts = ByteBuffer.wrap(new Array[Byte](if (needWts) 4 * cur.perChunk * nT * nPol else 0))
    def read(h: Fits.Header, at: Long, into: ByteBuffer, from: Int, len: Int): Unit = {
      raf.seek(h.dataOffset + at)
      raf.readFully(into.array(), from, len)
    }
    () => if (!cur.advance()) 0 else {
      val n = cur.n
      // baselines [g, g + n) of each integration, unless this chunk is a
      // later part of a baseline already read
      if (cur.a == 0) for (i <- 0 until nT) {
        if (needVis) read(hdus(i)._1, 8L * cur.g * row, vis, 8 * i * n * row, 8 * n * row)
        if (needWts) read(hdus(i)._2, 4L * cur.g * nPol, wts, 4 * i * n * nPol, 4 * n * nPol)
      }
      val rows = n * cur.m
      if (out.obsid != null) out.obsid.putLongs(0, rows, obsid)
      if (out.coarseChan != null) out.coarseChan.putInts(0, rows, chan)
      var r = 0
      var j = 0
      while (j < n) {
        val (a1, a2) = bls((cur.g + j).toInt)
        out.putBaseline(r, cur.m, a1, a2)
        // cell a of a series is (pol rank, fine rank, integration), time fastest
        var i = cur.a % nT
        var f = cur.a / nT % nFine
        var q = cur.a / nT / nFine
        val end = r + cur.m
        while (r < end) {
          val p = polAt(q)
          val k = fineAt(f)
          if (out.timeIdx != null) out.timeIdx.putInt(r, t0 + i)
          if (out.timeJd != null) out.timeJd.putDouble(r, jds(i))
          if (out.freqHz != null) out.freqHz.putDouble(r, hz(k))
          if (out.pol != null) out.pol.putByteArray(r, polBytes(p))
          if (needVis) {
            val v = 8 * ((i * n + j) * row + k * nPol + p)
            if (out.visRe != null) out.visRe.putDouble(r, vis.getFloat(v).toDouble)
            if (out.visIm != null) out.visIm.putDouble(r, vis.getFloat(v + 4).toDouble)
          }
          if (needWts) {
            val w = wts.getFloat(4 * ((i * n + j) * nPol + p))
            if (out.flag != null) out.flag.putBoolean(r, w <= 0f)
            if (out.nsample != null) out.nsample.putDouble(r, math.abs(w).toDouble)
          }
          i += 1
          if (i == nT) { i = 0; f += 1; if (f == nFine) { f = 0; q += 1 } }
          r += 1
        }
        j += 1
      }
      rows
    }
  }
}

object FitsFile {
  def open(path: String): FitsFile = {
    val h = Fits.readPrimary(path)
    FitsFile(path, h, h.long("OBSID"), h.int("COARSE"), h.int("NTIMES"), h.int("NANTS"),
      h.int("NFINE"), h.str("POLS").split(',').toSeq, h.double("FREQ0"), h.double("DFHZ"))
  }
}

/** Walks whole groups (uvfits) or blt rows (uvh5) of `cells` cells each,
  * `count` of them, a chunk at a time: as many whole ones as fit
  * [[VisSource.Chunk]] rows, or, when one alone is larger, parts of one. */
private[sources] final class GroupCursor(count: Long, cells: Int) {
  val whole: Boolean = cells <= VisSource.Chunk
  /** Groups per chunk at most. */
  val perChunk: Int =
    if (whole) math.min(VisSource.Chunk / math.max(1, cells), count).toInt else 1
  /** Cells per group in a chunk at most. */
  val cellsPerChunk: Int = math.min(cells, VisSource.Chunk)
  /** The current chunk: groups [g, g + n), cells [a, a + m) of each. */
  var g = 0L
  var a = 0
  var n = 0
  var m = 0

  /** Moves to the next chunk; false at the end. */
  def advance(): Boolean = {
    if (n > 0) {
      if (whole) g += n
      else { a += m; if (a == cells) { a = 0; g += 1 } }
    }
    if (g == count) { n = 0; false }
    else {
      n = math.min(perChunk.toLong, count - g).toInt
      m = math.min(cellsPerChunk, cells - a)
      true
    }
  }
}

/** A uvfits (FITS random-groups) file: whole-observation geometry from
  * its primary header. A group is one (time, baseline) visibility over the
  * full frequency axis, time-major: integration t is the file's t-th run
  * of Nbl groups, so a time slice is a seek to group t0*nBaselines
  * while coarse_chan filters stay residual (the reference's pyuvdata read
  * has the same shape: `select` on times subsets groups, frequencies
  * post-filter). */
case class UvfitsFile(path: String, head: Fits.Header, obsid: Long,
                      nTimes: Int, nAnts: Int, nFine: Int, nCoarse: Int,
                      pols: Seq[String], freq0Hz: Double, dfHz: Double,
                      jd0: Double, dtDays: Double) extends VisFile {
  override def coarseChan: Option[Int] = None

  /** Unpacks each group's AIPS baseline code and fills one row per (freq,
    * pol) cell. time_idx is the group's index / Nbl, the index the scan
    * prunes on, and time_jd JD0 + time_idx x DTDAYS, so float32 DATE
    * rounding cannot leak into the output. A group whose DATE is not its
    * integration's (a baseline-major file, say), or whose baseline code
    * decodes outside the array, fails typed at its offset, whatever the
    * projection. */
  override def decode(raf: RandomAccessFile, t0: Int, t1: Int, out: VisColumns): () => Int = {
    val groups = new Fits.Uvfits.Groups(raf, head)
    val axis = new CellAxis(nFine,
      Array.tabulate(nCoarse * nFine)(f => freq0Hz + f * dfHz), pols)
    if (groups.pcount < Fits.Uvfits.PCount || groups.cells != axis.size)
      throw head.corrupt(s"groups of ${groups.pcount} parameters and ${groups.cells} " +
        s"cells, expected >= ${Fits.Uvfits.PCount} and NCOARSE x NFINE x pols = ${axis.size}")
    val nBl = Fits.Uvfits.nBaselines(nAnts)
    val g0 = t0.toLong * nBl
    val cur = new GroupCursor((t1 - t0).toLong * nBl, axis.size)
    groups.check(g0, (t1 - t0).toLong * nBl)
    val pb = 4 * groups.pcount
    val buf = new Array[Byte](cur.perChunk * (pb + 12 * cur.cellsPerChunk))
    val bb = ByteBuffer.wrap(buf)
    () => if (!cur.advance()) 0 else {
      if (cur.whole) groups.read(g0 + cur.g, cur.n, buf)
      else groups.readPart(g0 + cur.g, cur.a, cur.m, buf)
      for (j <- 0 until cur.n) {
        val p = j * (pb + 12 * cur.m)
        val g = g0 + cur.g + j
        val t = (g / nBl).toInt
        val bl = math.round(bb.getFloat(p + 12))
        val a1 = bl / 256 - 1
        val a2 = bl % 256 - 1
        if (a1 < 0 || a2 < a1 || a2 >= nAnts)
          throw new CorruptInputException(path, groups.offset(g), s"group $g " +
            s"has baseline code $bl (ant1=$a1, ant2=$a2), outside " +
            s"0 <= ant1 <= ant2 < NANTS=$nAnts")
        val date = bb.getFloat(p + 16)
        if (math.round(date / dtDays) != t)
          throw new CorruptInputException(path, groups.offset(g), s"group $g " +
            s"has DATE $date, not integration $t's (group index / $nBl baselines)")
        val row0 = j * cur.m
        out.putTime(row0, cur.m, obsid, t, jd0 + t * dtDays)
        out.putBaseline(row0, cur.m, a1, a2)
        axis.put(out, row0, cur.a, cur.m)
        var c = 0
        while (c < cur.m) {
          val base = p + pb + 12 * c
          val wt = bb.getFloat(base + 8)
          if (out.visRe != null) out.visRe.putDouble(row0 + c, bb.getFloat(base).toDouble)
          if (out.visIm != null) out.visIm.putDouble(row0 + c, bb.getFloat(base + 4).toDouble)
          if (out.flag != null) out.flag.putBoolean(row0 + c, wt <= 0f)
          if (out.nsample != null) out.nsample.putDouble(row0 + c, math.abs(wt).toDouble)
          c += 1
        }
      }
      cur.n * cur.m
    }
  }
}

object UvfitsFile {
  def open(path: String): UvfitsFile = {
    val h = Fits.readPrimary(path)
    if (!h.has("GROUPS") || h.int("PCOUNT") <= 0)
      throw h.corrupt("not a FITS random-groups (uvfits) file: no GROUPS card or PCOUNT <= 0")
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

  /** Reads, a chunk at a time, only the datasets the required columns
    * need, over the slice's blt range [blt0, blt0 + nBlt) and cell range
    * [blt0*F*P, (blt0 + nBlt)*F*P) — bytes outside the slice are never
    * touched, and each range is checked against the file up front.
    * time_idx is the blt's time ordinal (blt / Nbls), bit-identical to the
    * other decoders. */
  override def decode(raf: RandomAccessFile, t0: Int, t1: Int, out: VisColumns): () => Int = {
    val axis = new CellAxis(nFine, freqs, pols)
    val blt0 = t0.toLong * nBls
    val nBlt = (t1 - t0).toLong * nBls
    val cur = new GroupCursor(nBlt, axis.size)
    // one dataset's reused chunk buffer, or null if no required column
    // needs it; its whole slice range is checked against the file first
    def slab(needed: Boolean, name: String, perBlt: Int, chunkElems: Int): Uvh5File.Slab =
      if (!needed) null else {
        val d = Uvh5File.dataset(ds, path, name)
        Hdf5.extent(raf, path, d, blt0 * perBlt, nBlt * perBlt)
        new Uvh5File.Slab(d, chunkElems)
      }
    val chunkBlts = cur.perChunk
    val chunkCells = cur.perChunk * cur.cellsPerChunk
    val a1s = slab(out.any(out.ant1, out.ant2, out.baseline), "Header/ant_1_array", 1, chunkBlts)
    val a2s = slab(out.any(out.ant1, out.ant2, out.baseline), "Header/ant_2_array", 1, chunkBlts)
    // time_jd comes from time_array VERBATIM (pyuvdata semantics) — deriving
    // the grid step by subtracting two ~2.46e6 JDs cancels ~18 bits and
    // perturbs reconstructed times in the last ulps
    val times = slab(out.timeJd != null, "Header/time_array", 1, chunkBlts)
    val vis = slab(out.any(out.visRe, out.visIm), "Data/visdata", axis.size, chunkCells)
    val flg = slab(out.flag != null, "Data/flags", axis.size, chunkCells)
    val nsm = slab(out.nsample != null, "Data/nsamples", axis.size, chunkCells)
    def read(s: Uvh5File.Slab, from: Long, n: Int): Unit =
      if (s != null) Hdf5.readInto(raf, path, s.ds, from, n, s.buf)
    () => if (!cur.advance()) 0 else {
      val blt = blt0 + cur.g
      val cells = cur.n * cur.m
      Seq(a1s, a2s, times).foreach(read(_, blt, cur.n))
      Seq(vis, flg, nsm).foreach(read(_, blt * axis.size + cur.a, cells))
      for (j <- 0 until cur.n) {
        val row0 = j * cur.m
        out.putTime(row0, cur.m, obsid, ((blt + j) / nBls).toInt,
          if (times == null) 0.0 else times.bb.getDouble(8 * j))
        if (a1s != null)
          out.putBaseline(row0, cur.m, a1s.bb.getLong(8 * j).toInt, a2s.bb.getLong(8 * j).toInt)
        axis.put(out, row0, cur.a, cur.m)
      }
      var c = 0
      while (c < cells) {
        if (out.visRe != null) out.visRe.putDouble(c, vis.bb.getFloat(8 * c).toDouble)
        if (out.visIm != null) out.visIm.putDouble(c, vis.bb.getFloat(8 * c + 4).toDouble)
        if (out.flag != null) out.flag.putBoolean(c, flg.buf(c) != 0)
        if (out.nsample != null) out.nsample.putDouble(c, nsm.bb.getFloat(4 * c).toDouble)
        c += 1
      }
      cells
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
      def header(n: String): Hdf5.Ds = dataset(ds, path, s"Header/$n")
      def scalar(n: String): Long = Hdf5.readLongs(raf, path, header(n), 0, 1)(0)
      val nFreq = scalar("Nfreqs").toInt
      val nPol = scalar("Npols").toInt
      Uvh5File(path, ds, scalar("obsid"), scalar("Ntimes").toInt,
        scalar("Nbls").toInt, scalar("nfine").toInt,
        Hdf5.readDoubles(raf, path, header("freq_array"), 0, nFreq),
        Hdf5.readLongs(raf, path, header("polarization_array"), 0, nPol)
          .map(Uvh5.PolName).toSeq)
    } finally raf.close()
  }

  /** Dataset `name` of the uvh5 file at `path`; a file without it fails
    * typed at offset 0, as it names no structure of the file. */
  def dataset(ds: Map[String, Hdf5.Ds], path: String, name: String): Hdf5.Ds =
    ds.getOrElse(name, throw new CorruptInputException(path, 0L, s"no $name dataset"))

  /** One dataset's chunk buffer, little-endian like the file. */
  final class Slab(val ds: Hdf5.Ds, elems: Int) {
    val buf = new Array[Byte](elems * ds.dtype.size)
    val bb: ByteBuffer = ByteBuffer.wrap(buf).order(ByteOrder.LITTLE_ENDIAN)
  }
}
