package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-trend data derivation: writes an N-times-larger copy of a
  * testdata scale-factor directory by unioning N key-shifted replicas of
  * each table, preserving referential integrity (every FK shifts by the
  * same per-copy offset as its PK) so join/agg output sizes scale
  * linearly — the data side of the "would this plan survive a 10x
  * scale-up" check.
  *
  * Documents get a per-copy PERMUTATION of common letters applied to the
  * text (translate with a bijection), which preserves within-copy shingle
  * structure exactly (bijections preserve set equality, so near-dup pairs
  * and exact-dup groups replicate per copy) while making cross-copy texts
  * dissimilar — otherwise every replica of a document is an exact dup of
  * 9 others and dedup candidate pairs grow quadratically instead of
  * linearly, which is a different (skew) experiment, not a scale trend.
  *
  * A 4th argument `hot=<N>` plants a degenerate template cluster: N
  * byte-identical copies of one templated document (doc_ids in a reserved
  * range ABOVE every shifted copy — max(1e9, (factor+1)*K), so no copy's
  * bumped ids can collide with cluster ids at any factor), the worst case
  * of a template-heavy corpus for the LSH
  * banding path — every band maps the whole cluster into ONE bucket, so
  * the hot-bucket join fallback (Dedup.bucketPairs) is exercised at its
  * design limit instead of assumed. Off by default because it is a skew
  * experiment, not a scale trend: candidate pairs grow as N^2 by
  * CONSTRUCTION (those near-dup pairs really exist), which would swamp
  * the linear-slope signal the plain sweep measures.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> <factor> [hot=<N>]
  */
object ScaleUp {

  // Per-copy letter bijections; copy 0 is identity so the original corpus
  // is a subset of the scaled one.
  //
  // ROUND-15 FIX (found by the sf10 sweep, BENCH_sf10.json): the original
  // family was ROTATIONS of "etaoins" — a cyclic group of order 7. Beyond
  // 7 copies the family folds (copy 7 = copy 0, ...), and two-level
  // derivations compose rotations, so sf1->sf10 mapped 100 (outer, inner)
  // copy pairs onto only 7 distinct bijections: every base document
  // existed in ~14 byte-identical variants, the corpus's TRUE near-dup
  // pair count grew quadratically in the fold multiplicity, and the exact
  // set-similarity join (d27) was forced to enumerate an answer that had
  // itself exploded — the precise "swamp the linear-slope signal"
  // failure mode the CONSTRUCTION note below exists to prevent. The
  // family is now a seeded Fisher-Yates permutation of all 26 lowercase
  // letters per copy index (splitmix64-mixed seed): 26! >> any factor, so
  // neither the family nor its pairwise compositions collide in practice,
  // and cross-copy texts stay dissimilar at every derivation depth.
  // (/tmp/sf1 generated before this fix carries the old family's
  // copy-7..9 fold; deriving sf10 FROM that sf1 keeps its certified
  // answer as the base and grows it linearly, which is the trend the
  // sweep measures.)
  private[graft] val alphabet = "abcdefghijklmnopqrstuvwxyz"
  private[graft] def perm(i: Int): String = {
    if (i == 0) return alphabet
    val a = alphabet.toCharArray
    var s = i.toLong * 0x9E3779B97F4A7C15L
    def next(bound: Int): Int = { // splitmix64 step, then bounded
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z = z ^ (z >>> 31)
      (((z >>> 1) % bound).toInt)
    }
    var j = a.length - 1
    while (j > 0) {
      val k = next(j + 1)
      val t = a(j); a(j) = a(k); a(k) = t
      j -= 1
    }
    new String(a)
  }

  /** Smallest power of ten strictly above the source's max key, floored
    * at the legacy 10M (so the certified sf0.1->sf1 derivation is
    * byte-identical to previous rounds). Pure — pinned by ScaleUpSpec. */
  private[graft] def offsetFor(maxKey: Long): Long = {
    var p = 10000000L
    while (p <= maxKey) p *= 10
    p
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3 || args.length == 4,
      "usage: ScaleUp <srcDir> <dstDir> <factor> [hot=<N>]")
    val (src, dst, n) = (args(0), args(1), args(2).toInt)
    // the round-15 fold bug, made structural: a derivation whose copy
    // bijections collide is generating a skew experiment, not a scale trend
    require((0 until n).map(perm).distinct.size == n,
      s"ScaleUp: permutation family collides within factor $n")
    val hot = args.drop(3).headOption
      .map { a => require(a.startsWith("hot="), s"bad arg $a"); a.drop(4).toInt }
      .getOrElse(0)
    val spark = Engine.session()

    // Per-copy key offset. ROUND-16 FIX (found by the first sf10
    // CORRECTNESS run — the r15 sweep was bench-only and never checked):
    // the old constant 10M was "far above any sf0.1 key space", which was
    // true for the sf0.1->sf1 derivation it was written for — but a
    // TWO-LEVEL derivation feeds sf1 (whose keys already span ~90M = 9
    // copies x 10M) back through the same constant, so copy i+1's low
    // keys land inside copy i's range: every key table FOLDED onto 1.9x
    // the base key space (500k documents -> 95k distinct doc_ids), the
    // dedup verify joins fanned out over duplicate ids (d06 emitted 12.6x
    // the true pair count), and every "10x" scale claim on keys was
    // silently a 1.9x. Same failure CLASS as the r15 letter-permutation
    // fold — a derivation parameter that does not survive composition.
    // Now K derives from the SOURCE's actual key span (max over every
    // key/FK column used below, rounded up to a power of ten, floored at
    // the legacy 10M so the certified sf0.1->sf1 derivation is unchanged),
    // which makes copy ranges disjoint BY CONSTRUCTION at any depth; the
    // require below is the structural proof, mirroring the permutation
    // family's collision check.
    val keyCols: Seq[(String, Seq[String])] = Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
      "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    val maxKey: Long = keyCols.flatMap { case (t, cols) =>
      val df = spark.read.parquet(s"$src/$t.parquet")
      cols.map(c => df.select(max(col(c).cast("long"))).head().getLong(0))
    }.max
    val K: Long = offsetFor(maxKey)
    require(K > maxKey, s"ScaleUp: offset $K does not clear source keys $maxKey")
    System.err.println(s"[scaleup] source max key $maxKey -> per-copy offset $K")

    def copies(name: String)(shift: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until n).map(i => shift(base, i)).reduce(_ unionAll _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      System.err.println(s"[scaleup] $name x$n written")
    }

    def bump(c: String, i: Int)(df: DataFrame): DataFrame =
      df.withColumn(c, col(c) + lit(i * K))

    // dims stay as-is (every copy references the same nations/regions)
    for (t <- Seq("region", "nation"))
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$dst/$t.parquet")

    copies("customer")((df, i) => bump("c_custkey", i)(df))
    copies("supplier")((df, i) => bump("s_suppkey", i)(df))
    copies("part")((df, i) => bump("p_partkey", i)(df))
    copies("orders")((df, i) =>
      bump("o_orderkey", i)(bump("o_custkey", i)(df)))
    copies("lineitem")((df, i) =>
      bump("l_orderkey", i)(bump("l_partkey", i)(bump("l_suppkey", i)(df))))
    copies("events")((df, i) =>
      bump("event_id", i)(bump("user_id", i)(df)))
    locally {
      val base = spark.read.parquet(s"$src/documents.parquet")
      val scaled = (0 until n).map(i =>
        bump("doc_id", i)(base)
          .withColumn("text", translate(col("text"), alphabet, perm(i))))
        .reduce(_ unionAll _)
      val out = if (hot == 0) scaled else {
        val template = "breaking news update please subscribe to our newsletter " +
          "for the latest breaking news update delivered daily to your inbox"
        // reserved id range strictly above copy n-1's bumped key space:
        // copy i shifts by i*K over a base key space << K, so (n+1)*K is
        // collision-free at any factor (round-7's fixed 9e7 base collided
        // with copy 9 at factor 10)
        val clusterBase = math.max(1000000000L, (n.toLong + 1) * K)
        val cluster = spark.range(hot.toLong)
          .select((col("id") + clusterBase).as("doc_id"),
            lit(template).as("text"),
            lit("en").as("lang"),
            concat(lit("template-"), (col("id") % 5)).as("source"),
            lit(template.length.toLong).as("n_chars"))
        scaled.unionByName(cluster)
      }
      out.write.mode("overwrite").parquet(s"$dst/documents.parquet")
      System.err.println(s"[scaleup] documents x$n written" +
        (if (hot > 0) s" + $hot-copy hot template cluster" else ""))
    }
    copies("embeddings")((df, i) => bump("vec_id", i)(df))

    spark.stop()
  }
}
