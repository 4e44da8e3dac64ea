package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the array-numeric hot paths. The
  * higher-order-function formulations (zip_with + aggregate) are
  * semantically identical but evaluate an interpreted lambda per element —
  * profiled at >10x slower on the similarity/dedup benchmarks. These
  * compile to a tight loop over ArrayData (and stay inside whole-stage
  * codegen via a static helper call).
  */
object ArrayExprs {

  /** Dot product with double accumulation, left-to-right — bit-identical
    * to both the HOF formulation and DuckDB's list_dot_product. */
  def dotCompute(a: ArrayData, b: ArrayData, floatA: Boolean, floatB: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (floatA) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (floatB) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  /** Squared L2 distance with double accumulation, left-to-right
    * (s += d*d in element order) — bit-identical to the zip_with +
    * aggregate fold it replaces (same operation order, same IEEE ops).
    * Assumes equal-dimension inputs (the vector-table contract every ANN
    * caller enforces); like [[dotCompute]] it iterates min(len). */
  def l2sqCompute(a: ArrayData, b: ArrayData, floatA: Boolean, floatB: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (floatA) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (floatB) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }

  /** Exact-integer squared L2 over long arrays (the portable-twin
    * distance): sum of (x-y)^2 in element order, long arithmetic
    * throughout — bit-identical to the zip_with + aggregate fold. */
  def l2sqLongCompute(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0L
    var i = 0
    while (i < n) {
      val d = a.getLong(i) - b.getLong(i)
      s += d * d
      i += 1
    }
    s
  }

  /** MinHash over a string array: each element hashed ONCE (XxHash64 over
    * its UTF-8 bytes), then k "permutations" derived by odd-multiplier
    * multiply-add — the standard linear-permutation scheme, O(n + n*k)
    * cheap ops instead of n*k full hashes. Empty input => all
    * Long.MaxValue. Deterministic everywhere. */
  def minhashCompute(arr: ArrayData, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    // hoist the per-permutation constants out of the element loop: the
    // multiplier (2j+1)*golden and the j-mix addend are loop-invariant in
    // the element, so the hot inner loop is one multiply-add per
    // permutation instead of three multiplies (identical values)
    val (mulJ, addJ) = permConsts(k)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUTF8String(s, 42L)
      var j = 0
      while (j < k) {
        val hj = h * mulJ(j) + addJ(j)
        sig(j) = Math.min(sig(j), hj) // branchless (see minhashTextCompute)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** Per-permutation (multiplier, addend) tables for the MinHash linear
    * permutations — odd multiplier (2j+1)*golden, j-mix addend. Cached
    * per k (tiny; k is 16–128 in practice) so repeated rows skip the
    * table rebuild. Values are exactly the inline formulas they hoist. */
  private val permCache =
    new java.util.concurrent.ConcurrentHashMap[Int, (Array[Long], Array[Long])]()
  private def permConsts(k: Int): (Array[Long], Array[Long]) =
    permCache.computeIfAbsent(k, kk => {
      val mul = new Array[Long](kk)
      val add = new Array[Long](kk)
      var j = 0
      while (j < kk) {
        mul(j) = (2L * j + 1L) * 0x9E3779B97F4A7C15L
        add(j) = j * 0xC2B2AE3D27D4EB4FL
        j += 1
      }
      (mul, add)
    })

  /** Random-hyperplane LSH signature: bit p of the result is the sign of
    * the projection of `arr` onto pseudo-random hyperplane p, whose weight
    * for dimension i is a hash of (p, i) mapped into [-1, 1]. Deterministic
    * with no broadcast state. Compiled loop, O(nPlanes * dim). */
  def lshBucketCompute(arr: ArrayData, nPlanes: Int, isFloat: Boolean, seed: Long): Long = {
    val n = arr.numElements()
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      var proj = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        // hash (p, i, seed) -> weight in [-1, 1]; the seed selects an
        // independent hyperplane family (one per LSH table)
        val h = XXH64.hashLong(p.toLong << 32 | i.toLong, seed)
        proj += x * (h.toDouble / Long.MaxValue.toDouble)
        i += 1
      }
      if (proj >= 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  /** Distinct word n-gram shingles in one compiled pass: whitespace split,
    * n-gram join, first-occurrence dedup. Semantically identical to the
    * HOF formulation (split + transform + concat_ws + array_distinct) but
    * without per-shingle interpreted lambda evaluation. */
  def shinglesCompute(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split("\\s+").filter(_.nonEmpty)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var k = 1
      while (k < n) { sb.append(' ').append(words(i + k)); k += 1 }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[Any](seen.size)
    var j = 0
    val it = seen.iterator()
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  private val shingleBuf = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](256)
  }

  /** ALL word n-grams (repeats kept, document order) — the counting twin
    * of [[shinglesCompute]] for frequency-based operators (DSIR feature
    * counts, bigram LMs) where collapsing duplicates would corrupt the
    * distribution. Same word split (Java \s+), same single-space join. */
  def wordGramsCompute(text: UTF8String, n: Int): ArrayData = {
    val words = text.toString.split("\\s+").filter(_.nonEmpty)
    if (words.length < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](words.length - n + 1)
    var i = 0
    while (i <= words.length - n) {
      val sb = new java.lang.StringBuilder(words(i))
      var k = 1
      while (k < n) { sb.append(' ').append(words(i + k)); k += 1 }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  // reusable 16-byte output buffer for MessageDigest.digest(buf, off, len)
  // — the per-call digest() otherwise allocates a fresh array per hash
  private val md5Out = new ThreadLocal[Array[Byte]] {
    override def initialValue(): Array[Byte] = new Array[Byte](16)
  }

  /** First 15 hex digits of md5(s) as a long — bit-identical to the SQL
    * chain `conv(substring(md5(s), 1, 15), 16, 10)` (the portable
    * keyHash): 15 hex digits are the first 7.5 digest bytes, i.e. the
    * first 8 bytes read big-endian as an unsigned 64-bit value, shifted
    * right 4 to drop the 16th digit. Collapses the md5 -> hex string ->
    * substring -> base-conv chain (three string allocations per row)
    * into one digest and a shift. */
  def md5PrefixLongCompute(s: UTF8String): Long = {
    val b = s.getBytes
    md5PrefixLongBytes(b, 0, b.length)
  }

  /** [[md5PrefixLongCompute]] over a byte slice (no UTF8String wrapper,
    * no digest-array allocation) — the shared kernel for the portable
    * simhash/minhash loops below, which hash word/shingle spans of a row
    * many times per row. */
  def md5PrefixLongBytes(bytes: Array[Byte], start: Int, len: Int): Long = {
    val md = md5Digest.get()
    md.reset()
    md.update(bytes, start, len)
    val d = md5Out.get()
    md.digest(d, 0, 16)
    val v = ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
    v >>> 4
  }

  /** SimHash over the whitespace word multiset in ONE compiled pass —
    * bit-identical to the HOF formulation in TextFns.simhash64 /
    * simhashPortable (same Java-\s word split via the byte-scan argument
    * on [[minhashTextCompute]]: all six \s members are single ASCII bytes
    * and UTF-8 continuation bytes cannot collide with them; same per-word
    * hash — xxhash64(word) seed 42 for bits=64, the md5 15-hex-digit
    * prefix for the 60-bit portable twin; same +1/-1 bit votes, bit j of
    * the result set iff the vote sum is positive; vote sums are exact
    * integer adds, so accumulation order cannot matter). Replaces a
    * 64-iteration interpreted zip_with lambda PER WORD (plus a
    * shiftright call_function per bit) with a compiled loop.
    * No words => 0L, matching the HOF's all-zero vote fold. */
  def simhashCompute(text: UTF8String, bits: Int, portable: Boolean): Long = {
    val bytes = text.getBytes
    val len = bytes.length
    val counts = new Array[Long](bits)
    var i = 0
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')
        }) i += 1
        val h =
          if (portable) md5PrefixLongBytes(bytes, s, i - s)
          else XXH64.hashUnsafeBytes(bytes,
            org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + s, i - s, 42L)
        var j = 0
        while (j < bits) {
          // ((h >>> j) & 1) is bit j for every j < 64 — identical to the
          // HOF's arithmetic shiftright(h, j) & 1 (the &1 keeps only the
          // original bit; sign fill never reaches it)
          counts(j) += (((h >>> j) & 1L) << 1) - 1L // +1 if set, -1 if not
          j += 1
        }
      } else i += 1
    }
    var res = 0L
    var j = 0
    while (j < bits) {
      if (counts(j) > 0) res |= 1L << j
      j += 1
    }
    res
  }

  /** Per-k cache of the "i:" ASCII prefixes the portable MinHash feeds
    * md5 per (component, shingle) — built once per k, not per row. */
  private val portablePrefixCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Byte]]]()
  private def portablePrefixes(k: Int): Array[Array[Byte]] =
    portablePrefixCache.computeIfAbsent(k, kk =>
      Array.tabulate(kk)(i => (i.toString + ":")
        .getBytes(java.nio.charset.StandardCharsets.US_ASCII)))

  /** Portable (md5-derived) MinHash signature in one compiled loop —
    * bit-identical to the HOF formulation in TextFns.minhashPortable:
    * component i = min over shingles of md5PrefixLong(i + ":" + shingle)
    * (same concat bytes — decimal i, ASCII colon, the shingle's UTF-8
    * bytes — same digest, and min is order-independent), with array_min's
    * null semantics preserved (null shingles skipped; empty or all-null
    * input => k NULL components, exactly what transform+array_min yields
    * on an empty array). The k x |shingles| md5 work is inherent to the
    * portable contract; what this removes is the interpreted
    * transform/array_min lambda nest and the per-element concat
    * allocation around each digest. */
  def minhashPortableCompute(arr: ArrayData, k: Int): ArrayData = {
    val out = new Array[Any](k)
    if (arr == null) return new GenericArrayData(out) // k NULLs
    val n = arr.numElements()
    val prefixes = portablePrefixes(k)
    val md = md5Digest.get()
    val dig = md5Out.get()
    val mins = Array.fill(k)(Long.MaxValue)
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val sBytes = arr.getUTF8String(i).getBytes
        var j = 0
        while (j < k) {
          md.reset()
          md.update(prefixes(j))
          md.update(sBytes)
          md.digest(dig, 0, 16)
          val v = (((dig(0) & 0xFFL) << 56) | ((dig(1) & 0xFFL) << 48) |
            ((dig(2) & 0xFFL) << 40) | ((dig(3) & 0xFFL) << 32) |
            ((dig(4) & 0xFFL) << 24) | ((dig(5) & 0xFFL) << 16) |
            ((dig(6) & 0xFFL) << 8) | (dig(7) & 0xFFL)) >>> 4
          if (v < mins(j)) mins(j) = v
          j += 1
        }
      }
      i += 1
    }
    if (any) {
      var j = 0
      while (j < k) { out(j) = mins(j); j += 1 }
    }
    new GenericArrayData(out)
  }

  /** Fraction of agreeing signature components — bit-identical to the HOF
    * zip_with(when equal 1 else 0) + aggregate + int->double casts +
    * division in TextFns.minhashEstimate: agreements counted over the
    * common prefix (zip_with pads the longer side with nulls, and
    * null==x folds to the otherwise-0 branch), denominator = size of the
    * LEFT signature, both cast to double before the one division. An
    * empty left signature is NaN here; [[MinHashEstimate]] returns NULL
    * for it before calling in. */
  def sigAgreeFracCompute(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var c = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i)) c += 1
      i += 1
    }
    c.toDouble / a.numElements().toDouble
  }

  /** Quality-score kernel (TextAnalysis.qualityScore's bind body) in one
    * compiled pass — bit-identical double arithmetic: lengthScore =
    * least(nTok/50.0, 1.0); ttr = |distinct words| / greatest(nTok, 1.0);
    * alphaRatio = |[a-zA-Z ] code points| / greatest(numChars, 1) via
    * double division (Spark casts int/int division to double); combined
    * left-to-right as (0.4*ls + 0.3*ttr) + 0.3*ar. Word split is the
    * byte-scan Java-\s argument (see [[minhashTextCompute]]); distinctness
    * is UTF8String byte equality, = array_distinct's binary semantics.
    * The [a-zA-Z ] count equals length(regexp_replace(text, "[^a-zA-Z ]",
    * "")) because those classes are single ASCII bytes (UTF-8 multi-byte
    * sequences can never contain them) and Spark's length() counts code
    * points. The floor(x*1e4+0.5)/1e4 rounding stays OUTSIDE, declarative
    * at the call site. */
  def qualityScoreCompute(text: UTF8String): Double = {
    val bytes = text.getBytes
    val len = bytes.length
    var nTok = 0
    val seen = new java.util.HashSet[UTF8String]()
    var alpha = 0
    var i = 0
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')
        }) i += 1
        nTok += 1
        seen.add(UTF8String.fromBytes(bytes, s, i - s))
      } else i += 1
    }
    i = 0
    while (i < len) {
      val b = bytes(i)
      if (b == ' ' || (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')) alpha += 1
      i += 1
    }
    val nTokD = nTok.toDouble
    val lengthScore = math.min(nTokD / 50.0, 1.0)
    val ttr = seen.size.toDouble / math.max(nTokD, 1.0)
    val alphaRatio = alpha.toDouble / math.max(text.numChars(), 1).toDouble
    0.4 * lengthScore + 0.3 * ttr + 0.3 * alphaRatio
  }

  def quality_score(text: Column): Column =
    Bridge.column(QualityScore(Bridge.expression(text)))

  /** Fused text -> MinHash signature in ONE byte-level pass: word spans
    * are found by scanning the UTF-8 bytes for Java-\s whitespace (all six
    * class members are single ASCII bytes, and UTF-8 continuation bytes
    * can never collide with them), each n-gram's canonical bytes
    * (words joined by 0x20) are assembled in a reusable thread-local
    * buffer, hashed once, and k-permuted into the running minimum.
    *
    * Produces BIT-IDENTICAL signatures to
    * minhashCompute(shinglesCompute(text, n), k): the hash input is the
    * same canonical shingle byte string, and duplicate shingles are
    * idempotent under elementwise min, so the distinct-ing step is simply
    * unnecessary here. What it saves at scale: the String decode, the
    * per-row regex compile, the per-shingle StringBuilder/LinkedHashSet/
    * re-encode churn, and the materialized array<string> column — the
    * signature goes straight from the scan bytes to 8k bytes of state. */
  def minhashTextCompute(text: UTF8String, n: Int, k: Int): ArrayData = {
    val sig = Array.fill(k)(Long.MaxValue)
    val (mulP, addP) = permConsts(k)
    val bytes = text.getBytes
    val len = bytes.length
    // collect word spans [start, end)
    var nWords = 0
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var i = 0
    while (i < len) {
      val b = bytes(i)
      val ws = b == ' ' || b == '\t' || b == '\n' || b == 0x0B || b == '\f' || b == '\r'
      if (!ws) {
        val s = i
        while (i < len && {
          val c = bytes(i)
          !(c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r')
        }) i += 1
        if (nWords == starts.length) {
          starts = java.util.Arrays.copyOf(starts, nWords * 2)
          ends = java.util.Arrays.copyOf(ends, nWords * 2)
        }
        starts(nWords) = s; ends(nWords) = i; nWords += 1
      } else i += 1
    }
    var w = 0
    while (w <= nWords - n) {
      // canonical shingle bytes: words w..w+n-1 joined by a single space
      var need = n - 1
      var j = 0
      while (j < n) { need += ends(w + j) - starts(w + j); j += 1 }
      var buf = shingleBuf.get()
      if (buf.length < need) {
        buf = new Array[Byte](Integer.highestOneBit(need) * 2)
        shingleBuf.set(buf)
      }
      var pos = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(pos) = ' '; pos += 1 }
        val wl = ends(w + j) - starts(w + j)
        System.arraycopy(bytes, starts(w + j), buf, pos, wl)
        pos += wl
        j += 1
      }
      val h = XXH64.hashUnsafeBytes(buf,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, pos, 42L)
      var p = 0
      while (p < k) {
        // mulP/addP hoist the loop-invariant permutation constants (see
        // permConsts) — one multiply-add per permutation, same values
        val hp = h * mulP(p) + addP(p)
        // branchless running min: Math.min compiles to a conditional
        // move, where the if+store version branch-mispredicts on the
        // ~random hp ordering (measured on the d06/d11 sig stage)
        sig(p) = Math.min(sig(p), hp)
        p += 1
      }
      w += 1
    }
    new GenericArrayData(sig)
  }

  def minhash_text(text: Column, n: Int, k: Int): Column =
    Bridge.column(MinHashText(Bridge.expression(text), n, k))

  /** All unordered position pairs (i < j) of an array, as
    * array<struct<x, y>> — the per-bucket candidate expansion of an LSH
    * bucket join, n(n-1)/2 pairs for an n-element bucket. */
  def pairCombosCompute(arr: ArrayData, et: DataType): ArrayData = {
    val n = arr.numElements()
    val out = new Array[Any](n * (n - 1) / 2)
    var idx = 0
    var i = 0
    while (i < n) {
      val x = arr.get(i, et)
      var j = i + 1
      while (j < n) {
        out(idx) = new GenericInternalRow(Array[Any](x, arr.get(j, et)))
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Portable LSH band digests in ONE compiled pass — bit-identical per
    * band b to
    * `md5(cast(concat_ws(",", transform(slice(sig, b*r+1, r),
    *   x -> cast(x as string))) as binary))`:
    * same decimal rendering (Long.toString), same comma joins with
    * concat_ws's null-skipping semantics (a null component emits neither
    * digits nor separator), same lowercase-hex md5 of the UTF-8 bytes; a
    * NULL signature array digests like the empty string per band, exactly
    * as concat_ws treats a null array argument. The HOF form evaluated an
    * interpreted transform lambda per band per row (an r22 measurement:
    * 0.13s vs 0.05s for the native-digest banding over the sf0.1 corpus). */
  def lshBandsPortableCompute(sig: ArrayData, k: Int, bands: Int): ArrayData = {
    val rows = k / bands
    val n = if (sig == null) 0 else sig.numElements()
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder(rows * 21)
    val md = md5Digest.get()
    val dbuf = md5Out.get()
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var first = true
      var i = b * rows
      val end = math.min((b + 1) * rows, n) // slice clips at the array end
      while (i < end) {
        if (!sig.isNullAt(i)) {
          if (!first) sb.append(',')
          sb.append(sig.getLong(i))
          first = false
        }
        i += 1
      }
      val bytes = sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      md.reset()
      md.update(bytes)
      md.digest(dbuf, 0, 16)
      val hex = new Array[Char](32)
      var j = 0
      while (j < 16) {
        hex(2 * j) = hexChars((dbuf(j) >> 4) & 0xF)
        hex(2 * j + 1) = hexChars(dbuf(j) & 0xF)
        j += 1
      }
      out(b) = new GenericInternalRow(Array[Any](b,
        UTF8String.fromString(new String(hex))))
      b += 1
    }
    new GenericArrayData(out)
  }

  def lsh_bands_portable(sig: Column, k: Int, bands: Int): Column =
    Bridge.column(LshBandsPortableDigests(Bridge.expression(sig), k, bands))

  def pair_combos(arr: Column): Column =
    Bridge.column(PairCombos(Bridge.expression(arr)))

  /** Streaming variant of `explode(pair_combos(arr))`: same rows, O(1)
    * memory per input row (see [[PairCombosStream]]). */
  def pair_combos_stream(arr: Column): Column =
    Bridge.column(PairCombosStream(Bridge.expression(arr)))

  def vector_dot(a: Column, b: Column): Column =
    Bridge.column(VectorDot(Bridge.expression(a), Bridge.expression(b)))

  def vector_l2sq(a: Column, b: Column): Column =
    Bridge.column(VectorL2Sq(Bridge.expression(a), Bridge.expression(b)))

  def vector_l2sq_long(a: Column, b: Column): Column =
    Bridge.column(VectorL2SqLong(Bridge.expression(a), Bridge.expression(b)))

  def word_shingles(text: Column, n: Int): Column =
    Bridge.column(WordShingles(Bridge.expression(text), n))

  def word_grams(text: Column, n: Int): Column =
    Bridge.column(WordGrams(Bridge.expression(text), n))

  def md5_prefix_long(s: Column): Column =
    Bridge.column(Md5PrefixLong(Bridge.expression(s)))

  def lsh_bucket(vec: Column, nPlanes: Int, seed: Long = 42L): Column =
    Bridge.column(LshBucket(Bridge.expression(vec), nPlanes, seed))

  def minhash_signature(shingles: Column, k: Int): Column =
    Bridge.column(MinHashSig(Bridge.expression(shingles), k))

  def simhash_text(text: Column, bits: Int, portable: Boolean): Column =
    Bridge.column(SimHashText(Bridge.expression(text), bits, portable))

  def minhash_portable_sig(shingles: Column, k: Int): Column =
    Bridge.column(MinHashPortableSig(Bridge.expression(shingles), k))

  def minhash_estimate(a: Column, b: Column): Column =
    Bridge.column(MinHashEstimate(Bridge.expression(a), Bridge.expression(b)))

  /** Portable sine on [-pi/2, pi/2]: the odd Taylor polynomial through
    * x^21 evaluated by Horner's rule in y = x^2 — every step a single
    * correctly-rounded IEEE op, so ANY engine that evaluates this exact
    * operation order reproduces it bit-for-bit (glibc, fdlibm and the
    * Math.sin JIT intrinsic each differ from one another by 1 ulp on real
    * inputs, so no libm call can be a cross-engine contract). Truncation
    * error at |x| = pi/2 is (pi/2)^23/23! ~ 1.2e-18, below half an ulp of
    * sin's value there; outside the reduced range accuracy degrades —
    * callers clamp first (Van Vleck clamps rho to [-1, 1]). */
  def sinKernel(x: Double): Double = {
    val y = x * x
    x * (1.0 + y * (-1.0 / 6.0 + y * (1.0 / 120.0 + y * (-1.0 / 5040.0 +
      y * (1.0 / 362880.0 + y * (-1.0 / 39916800.0 + y * (1.0 / 6227020800.0 +
      y * (-1.0 / 1307674368000.0 + y * (1.0 / 355687428096000.0 +
      y * (-1.0 / 121645100408832000.0 +
      y * (1.0 / 51090942171709440000.0)))))))))))
  }

  def portable_sin(c: Column): Column =
    Bridge.column(PortableSin(Bridge.expression(c)))

  /** Byte-Pair-Encoding merge application over one whitespace-split text
    * (Sennrich et al. 2016; the GPT-2 bpe() loop): each word starts as its
    * code-point tokens, then the lowest-rank adjacent pair PRESENT is
    * merged across the word (all occurrences) until no ranked pair
    * remains; per-word token lists concatenate in order. `ranks` maps
    * "x\u0000y" (NUL-joined) to rank. Merges require x != y, which makes simultaneous
    * and left-to-right occurrence merging provably identical (two
    * occurrences of (x, y) cannot share a token) — the property that lets
    * a set-based SQL oracle certify the loop. */
  def bpeCompute(text: UTF8String,
                 ranks: java.util.HashMap[String, Integer]): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer[Any]()
    val words = text.toString.split("\\s+")
    var wi = 0
    while (wi < words.length) {
      val word = words(wi)
      if (word.nonEmpty) {
        var toks = word.codePoints().toArray
          .map(cp => new String(Character.toChars(cp)))
        var done = false
        while (!done && toks.length > 1) {
          // lowest-rank adjacent pair present in this word
          var best = Int.MaxValue
          var i = 0
          while (i < toks.length - 1) {
            val r = ranks.get(toks(i) + "\u0000" + toks(i + 1))
            if (r != null && r < best) best = r
            i += 1
          }
          if (best == Int.MaxValue) done = true
          else {
            // merge every occurrence (x != y => occurrences are disjoint)
            val merged = scala.collection.mutable.ArrayBuffer[String]()
            var j = 0
            while (j < toks.length) {
              val r = if (j < toks.length - 1)
                ranks.get(toks(j) + "\u0000" + toks(j + 1)) else null
              if (r != null && r == best) {
                merged += toks(j) + toks(j + 1)
                j += 2
              } else {
                merged += toks(j)
                j += 1
              }
            }
            toks = merged.toArray
          }
        }
        toks.foreach(t => out += UTF8String.fromString(t))
      }
      wi += 1
    }
    new GenericArrayData(out.toArray)
  }

  def bpe_encode(text: Column, merges: Seq[(String, String)]): Column =
    Bridge.column(BpeEncode(Bridge.expression(text), merges))

  /** Fused Gopher repetition signals in ONE tokenization pass —
    * bit-identical to the HOF formulation in TextAnalysis.repetitionScores
    * (same tokens, same integer ratios, same floor(x*1e4+0.5)/1e4
    * arithmetic), minus three interpreted lambda chains and two n-gram
    * array materializations per row. */
  def repetitionCompute(text: UTF8String): InternalRow = {
    val words = text.toString.split("\\s+").filter(_.nonEmpty)
    val n = words.length
    def dupFrac(k: Int): Double = {
      val total = n - k + 1
      if (n < k || total <= 0) 0.0
      else {
        val seen = new java.util.HashSet[String](total * 2)
        var i = 0
        while (i <= n - k) {
          val sb = new java.lang.StringBuilder(words(i))
          var j = 1
          while (j < k) { sb.append(' ').append(words(i + j)); j += 1 }
          seen.add(sb.toString)
          i += 1
        }
        math.floor((total - seen.size).toDouble / total.toDouble * 10000 + 0.5) / 10000
      }
    }
    val twf =
      if (n <= 0) 0.0
      else {
        val counts = new java.util.HashMap[String, Integer](n * 2)
        var mx = 0
        var i = 0
        while (i < n) {
          val c = counts.merge(words(i), 1, (a: Integer, b: Integer) => a + b)
          if (c > mx) mx = c
          i += 1
        }
        math.floor(mx.toDouble / n.toDouble * 10000 + 0.5) / 10000
      }
    new GenericInternalRow(Array[Any](dupFrac(2), dupFrac(3), twf))
  }

  def repetition_stats(text: Column): Column =
    Bridge.column(RepetitionStats(Bridge.expression(text)))
}

/** Reduced-range sine with a fully specified operation order
  * (ArrayExprs.sinKernel): bit-identical on every JVM, JIT tier,
  * architecture and in any engine mirroring the same Horner chain. Used
  * where a transcendental must be reproducible across executors and
  * certifiable across engines (Van Vleck correction). */
case class PortableSin(child: Expression) extends UnaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"portable_sin needs double, got ${child.dataType}")
  override def nullSafeEval(c: Any): Any = ArrayExprs.sinKernel(c.asInstanceOf[Double])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.sinKernel($c)")
  override protected def withNewChildInternal(newChild: Expression): PortableSin =
    copy(child = newChild)
}

case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType
  private def isNumericArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left) && isNumericArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_dot requires array<float|double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  private lazy val fa = elemType(left) == FloatType
  private lazy val fb = elemType(right) == FloatType
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayExprs.dotCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], fa, fb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayExprs.dotCompute($a, $b, $fa, $fb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorDot =
    copy(left = l, right = r)
}

case class VectorL2Sq(left: Expression, right: Expression) extends BinaryExpression {
  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType
  private def isNumericArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isNumericArray(left) && isNumericArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_l2sq requires array<float|double> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  private lazy val fa = elemType(left) == FloatType
  private lazy val fb = elemType(right) == FloatType
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayExprs.l2sqCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], fa, fb)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayExprs.l2sqCompute($a, $b, $fa, $fb)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorL2Sq =
    copy(left = l, right = r)
}

case class VectorL2SqLong(left: Expression, right: Expression) extends BinaryExpression {
  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left) && isLongArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vector_l2sq_long requires array<bigint> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = LongType
  override def nullSafeEval(a: Any, b: Any): Any =
    ArrayExprs.l2sqLongCompute(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.ArrayExprs.l2sqLongCompute($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): VectorL2SqLong =
    copy(left = l, right = r)
}

case class LshBucket(child: Expression, nPlanes: Int, seed: Long) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bucket requires array<float|double>, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.lshBucketCompute(v.asInstanceOf[ArrayData], nPlanes, isFloat, seed)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayExprs.lshBucketCompute($c, $nPlanes, $isFloat, ${seed}L)")
  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

case class WordShingles(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles requires string, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.shinglesCompute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.shinglesCompute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordShingles =
    copy(child = newChild)
}

case class WordGrams(child: Expression, n: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_grams requires string, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.wordGramsCompute(v.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.wordGramsCompute($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

case class Md5PrefixLong(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"md5_prefix_long requires string, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.md5PrefixLongCompute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.md5PrefixLongCompute($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5PrefixLong =
    copy(child = newChild)
}

/** Fused text -> MinHash signature (see ArrayExprs.minhashTextCompute);
  * bit-identical to MinHashSig over WordShingles, minus all intermediate
  * string materialization. */
case class MinHashText(child: Expression, n: Int, k: Int) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_text needs a string column, got ${child.dataType}")
  override def nullSafeEval(c: Any): Any =
    ArrayExprs.minhashTextCompute(c.asInstanceOf[UTF8String], n, k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.minhashTextCompute($c, $n, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashText =
    copy(child = newChild)
}

/** Unordered position pairs of an array (ArrayExprs.pairCombosCompute):
  * the bucket-local candidate expansion that turns a grouped LSH bucket
  * into its pair list without a self-join. */
case class PairCombos(child: Expression) extends UnaryExpression {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("x", elemType), StructField("y", elemType))),
    containsNull = false)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pair_combos needs an array, got $t")
  }
  override def nullSafeEval(c: Any): Any =
    ArrayExprs.pairCombosCompute(c.asInstanceOf[ArrayData], elemType)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val etRef = ctx.addReferenceObj("et", elemType)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayExprs.pairCombosCompute($c, " +
        s"(org.apache.spark.sql.types.DataType) $etRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): PairCombos =
    copy(child = newChild)
}

/** Portable LSH band digests as a native expression (see
  * [[ArrayExprs.lshBandsPortableCompute]] for the bit-identity argument).
  * NEVER NULL: a null signature digests like concat_ws's empty string —
  * the exact shape of the HOF formulation it replaces — so eval/codegen
  * handle the null child explicitly instead of the null-intolerant
  * default. */
case class LshBandsPortableDigests(child: Expression, k: Int, bands: Int)
  extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("band", IntegerType, nullable = false),
    StructField("digest", StringType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"lsh_bands_portable requires array<bigint>, got ${t.sql}")
  }
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ArrayExprs.lshBandsPortableCompute(
      if (v == null) null else v.asInstanceOf[ArrayData], k, bands)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.ArrayExprs.lshBandsPortableCompute(
            ${c.isNull} ? null : ${c.value}, $k, $bands);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): LshBandsPortableDigests =
    copy(child = newChild)
}

/** STREAMING unordered-pair generator over an array column: lazily yields
  * one struct<x, y> row per position pair (i < j) — n(n-1)/2 rows per
  * input row with O(1) extra memory (r22). Replaces
  * `explode(pair_combos(ids))` in the LSH bucket expansion, whose
  * intermediate pair ARRAY is O(n^2) in one row for a hot (templated)
  * bucket; the old cap-plus-self-join fallback kept the memory bounded
  * but fanned the bucket aggregation out to THREE consumers (the in-place
  * filter plus both join sides), re-executing its corpus-scale reduce
  * once per consumer. One generator = one consumer = one reduce, and the
  * memory shape is streaming for EVERY bucket size. Interpreted eval
  * (GenerateExec has no codegen path for custom generators) — the
  * per-pair cost is two array reads and a row alloc, the same work the
  * compiled pair_combos loop did per element. */
case class PairCombosStream(child: Expression)
  extends UnaryExpression
  with org.apache.spark.sql.catalyst.expressions.Generator
  with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  private def elemType: DataType =
    child.dataType.asInstanceOf[ArrayType].elementType
  override def elementSchema: StructType = StructType(Seq(
    StructField("x", elemType), StructField("y", elemType)))
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: ArrayType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"pair_combos_stream needs an array, got $t")
  }
  override def prettyName: String = "pair_combos_stream"
  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else {
      val arr = v.asInstanceOf[ArrayData]
      val et = elemType
      val n = arr.numElements()
      if (n < 2) Iterator.empty
      else new Iterator[InternalRow] {
        private var i = 0
        private var j = 1
        override def hasNext: Boolean = i < n - 1
        override def next(): InternalRow = {
          // fresh row per pair: downstream operators may buffer references
          val row = new GenericInternalRow(
            Array[Any](arr.get(i, et), arr.get(j, et)))
          j += 1
          if (j == n) { i += 1; j = i + 1 }
          row
        }
      }
    }
  }
  override protected def withNewChildInternal(newChild: Expression): PairCombosStream =
    copy(child = newChild)
}

case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.minhashCompute(v.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.minhashCompute($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** BPE merge application (ArrayExprs.bpeCompute) as a native expression:
  * the ranked-merge table is prebuilt ONCE into a hash map carried as a
  * codegen reference object — per row the compiled code pays one helper
  * call, no per-row table construction, no UDF serialization. Merge pairs
  * must satisfy x != y (asserted), which makes all-occurrence merging
  * order-independent and therefore SQL-oracle-able. */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression {
  require(merges.nonEmpty && merges.forall { case (a, b) => a != b },
    "bpe_encode: merges must be non-empty with x != y in every pair")

  @transient private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), i) =>
      m.put(a + "\u0000" + b, i)
    }
    m
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires string, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.bpeCompute(v.asInstanceOf[UTF8String], ranks)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // raw type, not "HashMap<String, Integer>": Janino compiles the cast
    // addReferenceObj emits, and generic casts are not guaranteed across
    // Janino versions — a rejected cast silently falls back to interpreted
    // eval. Generics are erased anyway; bpeCompute takes the raw map.
    val ranksRef = ctx.addReferenceObj("bpeRanks", ranks, "java.util.HashMap")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayExprs.bpeCompute($c, $ranksRef)")
  }
  override protected def withNewChildInternal(newChild: Expression): BpeEncode =
    copy(child = newChild)
}

/** Quality-score kernel (ArrayExprs.qualityScoreCompute) as one compiled
  * expression: the interpreted bind-body (filter/split words lambda +
  * array_distinct + regexp_replace) becomes one byte pass per row. */
case class QualityScore(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"quality_score requires string, got ${t.sql}")
  }
  override def dataType: DataType = DoubleType
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.qualityScoreCompute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.qualityScoreCompute($c)")
  override protected def withNewChildInternal(newChild: Expression): QualityScore =
    copy(child = newChild)
}

/** SimHash (ArrayExprs.simhashCompute) as one fused expression — the
  * engine-native 64-bit variant (xxhash64 token hash) and the 60-bit
  * md5-prefix portable twin share the loop, selected by (bits, portable).
  * Bit-identical to the interpreted aggregate/zip_with formulation it
  * replaces (see the compute scaladoc for the argument). */
case class SimHashText(child: Expression, bits: Int, portable: Boolean)
    extends UnaryExpression {
  require(bits >= 1 && bits <= 64, s"simhash_text: bits must be 1..64, got $bits")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"simhash_text requires string, got ${t.sql}")
  }
  override def dataType: DataType = LongType
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.simhashCompute(v.asInstanceOf[UTF8String], bits, portable)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayExprs.simhashCompute($c, $bits, $portable)")
  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)
}

/** Portable MinHash signature (ArrayExprs.minhashPortableCompute) as one
  * compiled expression. Output element type stays nullable: empty (or
  * all-null) shingle input yields k NULL components, the exact
  * transform+array_min behavior callers may rely on (every production
  * caller filters size(shingles) > 0 first). NEVER NULL: a NULL shingle
  * array also yields k NULL components, the shape of the bind+transform
  * formulation it replaces, so eval/codegen pass the null child through
  * instead of the null-intolerant default. */
case class MinHashPortableSig(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"minhash_portable_sig: k must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_portable_sig requires array<string>, got ${t.sql}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def nullable: Boolean = false
  override def eval(input: InternalRow): Any =
    ArrayExprs.minhashPortableCompute(child.eval(input).asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    ev.copy(
      code = code"""
        ${c.code}
        org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} =
          graft.functions.ArrayExprs.minhashPortableCompute(
            ${c.isNull} ? null : ${c.value}, $k);""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashPortableSig =
    copy(child = newChild)
}

/** MinHash agreement fraction (ArrayExprs.sigAgreeFracCompute) as one
  * compiled expression — the estimated-Jaccard verify kernel. An empty
  * LEFT signature estimates NULL (no denominator), as the declarative
  * zip_with/aggregate division does with ANSI off. */
case class MinHashEstimate(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isLongArray(e: Expression): Boolean = e.dataType match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left) && isLongArray(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_estimate requires array<bigint> inputs, got " +
        s"${left.dataType.sql} and ${right.dataType.sql}")
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any): Any = {
    val sigA = a.asInstanceOf[ArrayData]
    if (sigA.numElements() == 0) null
    else ArrayExprs.sigAgreeFracCompute(sigA, b.asInstanceOf[ArrayData])
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""if ($a.numElements() == 0) ${ev.isNull} = true;
         |else ${ev.value} = graft.functions.ArrayExprs.sigAgreeFracCompute($a, $b);"""
        .stripMargin)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): MinHashEstimate =
    copy(left = l, right = r)
}

/** Gopher repetition signals (ArrayExprs.repetitionCompute) as one fused
  * expression: struct<dup_bigram, dup_trigram, top_word_frac>, one
  * tokenization and one hash pass per row instead of three interpreted
  * HOF lambda chains. */
case class RepetitionStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"repetition_stats requires string, got ${t.sql}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("dup_bigram", DoubleType, nullable = false),
    StructField("dup_trigram", DoubleType, nullable = false),
    StructField("top_word_frac", DoubleType, nullable = false)))
  override def nullSafeEval(v: Any): Any =
    ArrayExprs.repetitionCompute(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayExprs.repetitionCompute($c)")
  override protected def withNewChildInternal(newChild: Expression): RepetitionStats =
    copy(child = newChild)
}
