package graft.mwa

import java.io.RandomAccessFile
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

/** Minimal HDF5 binary I/O (HDF5 File Format Specification, the public
  * format behind uvh5 — the reference's third input serialization,
  * `configurators.py:43-48` via pyuvdata's UVH5 reader).
  *
  * Subset implemented — the earliest (most widely readable) on-disk
  * format, which is also what h5py emits by default for small
  * uncompressed files:
  *   - version-0 superblock, 8-byte offsets/lengths, little-endian
  *   - version-1 object headers (incl. continuation blocks on read)
  *   - symbol-table groups: v1 B-tree + local heap + SNOD nodes
  *   - contiguous data layout (v3 message) — chunked/compressed is out
  *     of scope; uvh5 fixture data is written uncompressed
  *   - datatypes: fixed-point (i8/i64), IEEE float (f32/f64), and the
  *     2-member {r,i} float32 compound h5py uses for complex64
  *
  * Contiguous layout is what makes the Spark source scale: one coarse
  * channel of one blt row of the (blt, frequency, pol) visdata array is a
  * contiguous byte range, so a split's read is a seek per blt, exactly
  * like the uvfits group seek.
  */
object Hdf5 {

  val Undef: Long = -1L // 0xFFFF_FFFF_FFFF_FFFF
  private val Signature = Array(0x89, 'H', 'D', 'F', '\r', '\n', 0x1a, '\n').map(_.toByte)

  sealed trait Dtype { def size: Int }
  case object I8 extends Dtype { val size = 1 }
  case object I64 extends Dtype { val size = 8 }
  case object F32 extends Dtype { val size = 4 }
  case object F64 extends Dtype { val size = 8 }
  /** complex64 as h5py writes it: compound of two float32 members r, i. */
  case object C64 extends Dtype { val size = 8 }

  final case class Dataset(name: String, dtype: Dtype, dims: Seq[Long],
                           data: Array[Byte]) {
    require(data.length == dtype.size * dims.product,
      s"$name: ${data.length} bytes != ${dims.mkString("x")} x ${dtype.size}")
  }
  final case class Group(name: String, datasets: Seq[Dataset])

  // --------------------------------------------------------------- writing

  /** Little-endian growable buffer with address patching. */
  private final class Buf {
    private var arr = new Array[Byte](1 << 16)
    var pos: Int = 0
    private def ensure(n: Int): Unit =
      if (pos + n > arr.length) {
        val bigger = new Array[Byte](math.max(arr.length * 2, pos + n))
        System.arraycopy(arr, 0, bigger, 0, pos); arr = bigger
      }
    def put1(v: Int): Unit = { ensure(1); arr(pos) = v.toByte; pos += 1 }
    def put2(v: Int): Unit = { put1(v & 0xff); put1((v >> 8) & 0xff) }
    def put4(v: Long): Unit = { put2((v & 0xffff).toInt); put2(((v >> 16) & 0xffff).toInt) }
    def put8(v: Long): Unit = { put4(v & 0xffffffffL); put4((v >>> 32) & 0xffffffffL) }
    def putBytes(b: Array[Byte]): Unit = { ensure(b.length)
      System.arraycopy(b, 0, arr, pos, b.length); pos += b.length }
    def putAscii(s: String): Unit = putBytes(s.getBytes(StandardCharsets.US_ASCII))
    def pad(align: Int): Unit = while (pos % align != 0) put1(0)
    def patch8(at: Int, v: Long): Unit = {
      val p = pos; pos = at; put8(v); pos = p
    }
    def bytes: Array[Byte] = java.util.Arrays.copyOf(arr, pos)
  }

  private def dtypeBody(t: Dtype): Array[Byte] = {
    val b = new Buf
    t match {
      case I8 | I64 =>
        b.put1(0x10); b.put1(0x08); b.put1(0); b.put1(0) // v1 class 0, signed LE
        b.put4(t.size); b.put2(0); b.put2(t.size * 8)    // size; bit offset; precision
      case F32 =>
        b.put1(0x11); b.put1(0x20); b.put1(0x1f); b.put1(0) // v1 class 1, LE, norm msb, sign 31
        b.put4(4); b.put2(0); b.put2(32)
        b.put1(23); b.put1(8); b.put1(0); b.put1(23); b.put4(127)
      case F64 =>
        b.put1(0x11); b.put1(0x20); b.put1(0x3f); b.put1(0)
        b.put4(8); b.put2(0); b.put2(64)
        b.put1(52); b.put1(11); b.put1(0); b.put1(52); b.put4(1023)
      case C64 =>
        b.put1(0x16); b.put1(2); b.put1(0); b.put1(0) // v1 class 6, 2 members
        b.put4(8)
        for ((nm, off) <- Seq(("r", 0L), ("i", 4L))) {
          val name = nm.getBytes(StandardCharsets.US_ASCII)
          b.putBytes(name); (name.length until 8).foreach(_ => b.put1(0))
          b.put4(off)          // byte offset in compound
          b.put1(0)            // dimensionality
          b.put1(0); b.put1(0); b.put1(0)
          b.put4(0)            // dim permutation
          b.put4(0)            // reserved
          (0 until 4).foreach(_ => b.put4(0)) // dim sizes
          val member = dtypeBody(F32)
          b.putBytes(member); b.pad(8)
        }
    }
    b.pad(8)
    b.bytes
  }

  private def dataspaceBody(dims: Seq[Long]): Array[Byte] = {
    val b = new Buf
    b.put1(1); b.put1(dims.length); b.put1(0); b.put1(0); b.put4(0) // v1, no maxdims
    dims.foreach(b.put8)
    b.pad(8)
    b.bytes
  }

  private def layoutBody(addr: Long, size: Long): Array[Byte] = {
    val b = new Buf
    b.put1(3); b.put1(1) // v3, contiguous
    b.put8(addr); b.put8(size)
    b.pad(8)
    b.bytes
  }

  private def stabBody(btree: Long, heap: Long): Array[Byte] = {
    val b = new Buf; b.put8(btree); b.put8(heap); b.bytes
  }

  /** v1 object header: 16-byte prefix (incl. 4 pad), then (type, size,
    * flags, reserved*3, body) messages — bodies pre-padded to 8. */
  private def objectHeader(buf: Buf, msgs: Seq[(Int, Array[Byte])]): Long = {
    buf.pad(8)
    val addr = buf.pos.toLong
    val blockLen = msgs.map(8 + _._2.length).sum
    buf.put1(1); buf.put1(0)
    buf.put2(msgs.length)
    buf.put4(1)                 // reference count
    buf.put4(blockLen)
    buf.put4(0)                 // pad to 16
    for ((tpe, body) <- msgs) {
      buf.put2(tpe); buf.put2(body.length)
      buf.put1(0); buf.put1(0); buf.put1(0); buf.put1(0)
      buf.putBytes(body)
    }
    addr
  }

  /** One group: local heap (names) + one SNOD (entries sorted by name) +
    * one-leaf B-tree + the group's object header. Returns the OH address
    * plus the (btree, heap) pair for superblock scratch caching. */
  private def writeGroup(buf: Buf, members: Seq[(String, Long)]): (Long, Long, Long) = {
    val sorted = members.sortBy(_._1)
    // heap data segment: offset 0 holds 8 zero bytes (the empty string
    // that keys the leftmost B-tree edge), names start at offset 8
    val heapData = new Buf
    heapData.put8(0)
    val nameOff = sorted.map { case (name, _) =>
      val off = heapData.pos.toLong
      heapData.putAscii(name); heapData.put1(0); heapData.pad(8)
      name -> off
    }.toMap
    buf.pad(8)
    val heapDataAddr = buf.pos.toLong
    buf.putBytes(heapData.bytes)
    buf.pad(8)
    val heapAddr = buf.pos.toLong
    buf.putAscii("HEAP"); buf.put1(0); buf.put1(0); buf.put1(0); buf.put1(0)
    buf.put8(heapData.pos.toLong)  // data segment size
    buf.put8(Undef)                // no free list
    buf.put8(heapDataAddr)
    buf.pad(8)
    val snodAddr = buf.pos.toLong
    buf.putAscii("SNOD"); buf.put1(1); buf.put1(0)
    buf.put2(sorted.length)
    for ((name, oh) <- sorted) {
      buf.put8(nameOff(name)); buf.put8(oh)
      buf.put4(0); buf.put4(0)     // cache type 0
      buf.put8(0); buf.put8(0)     // scratch
    }
    buf.pad(8)
    val btreeAddr = buf.pos.toLong
    buf.putAscii("TREE"); buf.put1(0); buf.put1(0) // group node, leaf level
    buf.put2(1)                                    // one child
    buf.put8(Undef); buf.put8(Undef)
    buf.put8(0)                                    // key0: the empty string
    buf.put8(snodAddr)
    buf.put8(nameOff(sorted.last._1))              // key1: greatest name
    val oh = objectHeader(buf, Seq(0x0011 -> stabBody(btreeAddr, heapAddr)))
    (oh, btreeAddr, heapAddr)
  }

  /** Write a 2-level file: root -> groups -> contiguous datasets. */
  def write(path: Path, groups: Seq[Group]): Unit = {
    val buf = new Buf
    (0 until 96).foreach(_ => buf.put1(0)) // superblock placeholder
    val groupEntries = groups.map { g =>
      val dsEntries = g.datasets.map { ds =>
        buf.pad(8)
        val dataAddr = buf.pos.toLong
        buf.putBytes(ds.data)
        val oh = objectHeader(buf, Seq(
          0x0001 -> dataspaceBody(ds.dims),
          0x0003 -> dtypeBody(ds.dtype),
          0x0008 -> layoutBody(dataAddr, ds.data.length.toLong)))
        ds.name -> oh
      }
      val (oh, _, _) = writeGroup(buf, dsEntries)
      g.name -> oh
    }
    val (rootOh, rootBtree, rootHeap) = writeGroup(buf, groupEntries)
    val eof = buf.pos.toLong
    // superblock v0
    val sb = new Buf
    sb.putBytes(Signature)
    sb.put1(0); sb.put1(0); sb.put1(0); sb.put1(0) // versions
    sb.put1(0)                                     // shared msg version
    sb.put1(8); sb.put1(8); sb.put1(0)             // offset/length sizes
    sb.put2(16); sb.put2(16)                       // leaf K, internal K
    sb.put4(0)                                     // consistency flags
    sb.put8(0); sb.put8(Undef)                     // base addr, freespace
    sb.put8(eof); sb.put8(Undef)                   // EOF, driver info
    sb.put8(0)                                     // root: link name offset
    sb.put8(rootOh)
    sb.put4(1); sb.put4(0)                         // cache type 1 (stab cached)
    sb.put8(rootBtree); sb.put8(rootHeap)          // scratch
    val all = buf.bytes
    System.arraycopy(sb.bytes, 0, all, 0, 96)
    Files.write(path, all)
  }

  // --------------------------------------------------------------- reading

  final case class Ds(dtype: Dtype, dims: Seq[Long], dataAddr: Long, dataLen: Long)

  /** Parse the full dataset map ("group/name" -> Ds) of the subset file
    * open in `raf` (`path` names it in errors). Metadata only — no data
    * bytes are touched (the scan's planning pass). A structure that is
    * truncated, lacks its signature or is not of the subset is a
    * [[CorruptInputException]] at its offset. */
  def datasets(raf: RandomAccessFile, path: String): Map[String, Ds] = {
    val sb = bytesAt(raf, path, 0, 72, "superblock")
    expect(path, 0, sb, Signature, "HDF5")
    if (sb.get(13) != 8 || sb.get(14) != 8)
      throw new CorruptInputException(path, 13, "only 8-byte offsets/lengths supported")
    val rootOh = sb.getLong(64)
    groupMembers(raf, path, rootOh).flatMap { case (gName, gOh) =>
      groupMembers(raf, path, gOh).flatMap { case (dName, dOh) =>
        parseDataset(raf, path, dOh).map(ds => s"$gName/$dName" -> ds)
      }
    }.toMap
  }

  /** `len` bytes at `addr` of the file open in `raf`, checked against the
    * file's length before anything is allocated: a structure that runs
    * past the end is a [[CorruptInputException]] at `addr`. */
  private def bytesAt(raf: RandomAccessFile, path: String, addr: Long, len: Long,
                      what: String): ByteBuffer = {
    if (len < 0 || addr < 0 || len > raf.length() - addr)
      throw new CorruptInputException(path, addr, s"$what of $len bytes " +
        s"runs past end of file (${raf.length()} bytes)")
    if (len > Int.MaxValue - 8)
      throw new CorruptInputException(path, addr, s"$what of $len bytes exceeds one read")
    val b = new Array[Byte](len.toInt)
    raf.seek(addr); raf.readFully(b)
    ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)
  }

  /** A [[CorruptInputException]] at `addr` unless `bb` starts with `magic`. */
  private def expect(path: String, addr: Long, bb: ByteBuffer, magic: Array[Byte],
                     what: String): Unit =
    if (!java.util.Arrays.equals(bb.array(), 0, magic.length, magic, 0, magic.length))
      throw new CorruptInputException(path, addr, s"no $what signature")

  /** All (type, body) messages of a v1 object header, following
    * continuation (0x0010) blocks. */
  private def messages(raf: RandomAccessFile, path: String,
                       ohAddr: Long): Seq[(Int, Array[Byte])] = {
    val hb = bytesAt(raf, path, ohAddr, 16, "object header")
    val version = hb.get()
    if (version != 1)
      throw new CorruptInputException(path, ohAddr, s"object header version $version is not 1")
    hb.get()
    val nMsgs = hb.getShort() & 0xffff
    hb.getInt()
    val blockLen = hb.getInt() & 0xffffffffL
    val out = Seq.newBuilder[(Int, Array[Byte])]
    var remaining = nMsgs
    // (address, length) block queue: the header block, then continuations
    var blocks = List((ohAddr + 16, blockLen))
    while (remaining > 0 && blocks.nonEmpty) {
      val (addr, len) = blocks.head
      blocks = blocks.tail
      val bb = bytesAt(raf, path, addr, len, "object header block")
      while (remaining > 0 && bb.remaining() >= 8) {
        val tpe = bb.getShort() & 0xffff
        val sz = bb.getShort() & 0xffff
        bb.getInt() // flags + reserved
        if (bb.remaining() < sz) { remaining = 0 }
        else {
          val body = new Array[Byte](sz); bb.get(body)
          if (tpe == 0x0010) { // continuation: 8-byte offset + 8-byte length
            val cb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
            blocks = blocks :+ ((cb.getLong, cb.getLong))
          } else out += (tpe -> body)
          remaining -= 1
        }
      }
    }
    out.result()
  }

  /** Symbol-table group members: walk the stab message's B-tree to its
    * SNOD leaves and resolve names through the local heap. */
  private def groupMembers(raf: RandomAccessFile, path: String,
                           ohAddr: Long): Seq[(String, Long)] = {
    val stab = messages(raf, path, ohAddr).collectFirst { case (0x0011, b) => b }
      .getOrElse(return Seq.empty)
    val sb = ByteBuffer.wrap(stab).order(ByteOrder.LITTLE_ENDIAN)
    val (btree, heap) = (sb.getLong, sb.getLong)
    // heap header -> data segment address
    val hh = bytesAt(raf, path, heap, 32, "local heap")
    expect(path, heap, hh, "HEAP".getBytes, "HEAP")
    val heapData = hh.getLong(24)

    def name(offset: Long): String = {
      raf.seek(heapData + offset)
      val sb = new StringBuilder
      var c = raf.read()
      while (c > 0) { sb.append(c.toChar); c = raf.read() }
      sb.toString
    }

    def walkBtree(addr: Long): Seq[Long] = { // SNOD addresses
      val fb = bytesAt(raf, path, addr, 24, "B-tree node")
      expect(path, addr, fb, "TREE".getBytes, "TREE")
      val level = fb.get(5) // after the node type (0) at 4
      val used = fb.getShort(6) & 0xffff
      val bb = bytesAt(raf, path, addr + 24, (2L * used + 1) * 8, "B-tree node keys")
      val children = (0 until used).map { _ => bb.getLong; bb.getLong }
      if (level == 0) children else children.flatMap(walkBtree)
    }

    walkBtree(btree).flatMap { snod =>
      val sh = bytesAt(raf, path, snod, 8, "symbol table node")
      expect(path, snod, sh, "SNOD".getBytes, "SNOD")
      val n = sh.getShort(6) & 0xffff
      val eb = bytesAt(raf, path, snod + 8, 40L * n, "symbol table entries")
      (0 until n).map { i =>
        eb.position(40 * i)
        val nameOff = eb.getLong
        val oh = eb.getLong
        name(nameOff) -> oh
      }
    }
  }

  private def parseDtype(body: ByteBuffer): Option[Dtype] = {
    val cv = body.get() & 0xff
    val cls = cv & 0x0f
    val b0 = body.get() & 0xff; body.get(); body.get()
    val size = body.getInt()
    cls match {
      case 0 => size match {
        case 1 => Some(I8); case 8 => Some(I64); case _ => None
      }
      case 1 => size match {
        case 4 => Some(F32); case 8 => Some(F64); case _ => None
      }
      case 6 if (b0 | ((body.get(2) & 0xff) << 8)) >= 2 && size == 8 => Some(C64)
      case _ => None
    }
  }

  private def parseDataset(raf: RandomAccessFile, path: String,
                           ohAddr: Long): Option[Ds] = {
    val msgs = messages(raf, path, ohAddr).toMap
    for {
      space <- msgs.get(0x0001)
      dtype <- msgs.get(0x0003)
      layout <- msgs.get(0x0008)
      t <- parseDtype(ByteBuffer.wrap(dtype).order(ByteOrder.LITTLE_ENDIAN))
    } yield {
      val sp = ByteBuffer.wrap(space).order(ByteOrder.LITTLE_ENDIAN)
      val ver = sp.get() & 0xff
      if (ver != 1)
        throw new CorruptInputException(path, ohAddr, s"dataspace version $ver unsupported")
      val rank = sp.get() & 0xff
      sp.position(8)
      val dims = (0 until rank).map(_ => sp.getLong)
      val lb = ByteBuffer.wrap(layout).order(ByteOrder.LITTLE_ENDIAN)
      if (lb.get() != 3 || lb.get() != 1)
        throw new CorruptInputException(path, ohAddr, "only v3 contiguous layout supported")
      val (addr, len) = (lb.getLong, lb.getLong)
      if (addr < 0 || len < 0 || len > raf.length() - addr)
        throw new CorruptInputException(path, addr, s"data of the dataset at $ohAddr " +
          s"($len bytes) runs past end of file (${raf.length()} bytes)")
      Ds(t, dims, addr, len)
    }
  }

  // ------------------------------------------------------- typed data reads

  /** The file offset of elements [from, from + n) of the contiguous
    * dataset `ds` of `path`, after checking, in Longs and before anything
    * is allocated, that they lie inside the dataset and inside the file.
    * Either failure is a [[CorruptInputException]] at that offset. */
  def extent(raf: RandomAccessFile, path: String, ds: Ds, from: Long, n: Long): Long = {
    val size = ds.dtype.size
    val offset = ds.dataAddr + from * size
    if (from < 0 || n < 0 || from + n > ds.dataLen / size)
      throw new CorruptInputException(path, offset, s"elements [$from, ${from + n}) " +
        s"lie outside the dataset's ${ds.dataLen} bytes of $size-byte elements")
    if (n * size > raf.length() - offset)
      throw new CorruptInputException(path, offset, s"read of ${n * size} bytes " +
        s"runs past end of file (${raf.length()} bytes)")
    offset
  }

  /** Elements [from, from + n) of a contiguous dataset, checked by
    * [[extent]], in a new little-endian buffer (metadata-sized reads). */
  def readBytesOf(raf: RandomAccessFile, path: String, ds: Ds, from: Long,
                  n: Int): ByteBuffer = {
    val offset = extent(raf, path, ds, from, n)
    if (n.toLong * ds.dtype.size > Int.MaxValue - 8)
      throw new CorruptInputException(path, offset,
        s"read of ${n.toLong * ds.dtype.size} bytes exceeds one array")
    val bb = new Array[Byte](n * ds.dtype.size)
    raf.seek(offset)
    raf.readFully(bb)
    ByteBuffer.wrap(bb).order(ByteOrder.LITTLE_ENDIAN)
  }

  def readLongs(raf: RandomAccessFile, path: String, ds: Ds, from: Long, n: Int): Array[Long] = {
    val bb = readBytesOf(raf, path, ds, from, n)
    Array.fill(n)(bb.getLong)
  }
  def readDoubles(raf: RandomAccessFile, path: String, ds: Ds, from: Long, n: Int): Array[Double] = {
    val bb = readBytesOf(raf, path, ds, from, n)
    Array.fill(n)(bb.getDouble)
  }
  def readFloats(raf: RandomAccessFile, path: String, ds: Ds, from: Long, n: Int): Array[Float] = {
    val bb = readBytesOf(raf, path, ds, from, n)
    Array.fill(n)(bb.getFloat)
  }

  // ------------------------------------------------------- encode helpers

  def longs(vs: Seq[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putLong); bb.array()
  }
  def doubles(vs: Seq[Double]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putDouble); bb.array()
  }
  def floats(vs: Seq[Float]): Array[Byte] = {
    val bb = ByteBuffer.allocate(vs.length * 4).order(ByteOrder.LITTLE_ENDIAN)
    vs.foreach(bb.putFloat); bb.array()
  }
}
