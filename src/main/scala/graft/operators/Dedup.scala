package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.plans.Pins.PinSyntax

/** Deduplication family for a training-data pipeline, over a corpus
  * DataFrame with an id column and a text column.
  *
  * Scale notes: every variant is built to avoid the all-pairs cross join.
  * Exact dedup is one hash aggregation. MinHash-LSH and SimHash reduce the
  * candidate space with equi joins on derived keys (band digests / hash
  * prefixes) so the shuffle carries only candidate buckets, never n^2 pairs.
  */
object Dedup {

  /** Exact duplicate groups by full text: one hash-shuffle groupBy. Returns
    * (keep_id, n_copies) — the survivor (min id) per distinct text.
    * At 100 TB group on a 128-bit hash of text instead of the full text so
    * the shuffle carries 16 bytes/row, not the document body. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol).cast("binary")).as("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Exact-dedup the corpus itself (keep the min-id row per distinct text). */
  def exactRows(df: DataFrame, idCol: String, textCol: String): DataFrame =
    RelationalOps.dedupFirst(df, Seq(md5(col(textCol).cast("binary"))), Seq(col(idCol)))

  /** The canonical normalization for [[normalizedExact]]: lowercase,
    * strip everything but [a-z0-9 ], collapse whitespace runs, trim —
    * per-row codegen'd string ops, zero shuffle. Exposed so callers can
    * project the normalized form itself (e.g. to debug a surprising
    * group). */
  def normalizeText(text: Column): Column =
    // Unicode letter/number classes, not [a-z]: an ASCII-only class would
    // normalize every non-Latin document to "" and merge them all
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N} \\t\\n]", " "), "\\s+", " "))

  /** NORMALIZED-exact duplicate groups — the "fuzzy-exact" tier between
    * [[exact]] and MinHash: re-encodes, case changes, punctuation edits
    * and whitespace reflows all collapse to one group (the mirror-host /
    * trailing-boilerplate-free duplicates a crawl is full of), while
    * true content changes stay distinct. Same single hash-shuffle shape
    * as [[exact]] — the shuffle key is md5(normalized), 16 bytes/row.
    *
    * @return (keep_id, n_copies) per distinct NORMALIZED text
    */
  def normalizedExact(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    df.groupBy(md5(normalizeText(col(textCol)).cast("binary")).as("__h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .drop("__h")

  /** Buckets whose id list exceeds this stream through [[prefixJaccardPairs]]'
    * join fallback instead of a single-row pair array (the LSH banding
    * path streams EVERY bucket via PairCombosStream since r22). 512 ids
    * is ~131k pairs (~4 MB of longs) per bucket row — in-task. */
  private[graft] val hotBucketCap = 512

  /** Candidate (id_a < id_b) pairs from (band, digest, ids) LSH buckets:
    * one STREAMING generator pass (ArrayExprs.PairCombosStream) — each
    * bucket lazily yields its n(n-1)/2 pairs with O(1) extra memory, so a
    * degenerate templated pileup never materializes an O(n^2) pair array
    * in one row AND the corpus-scale bucket aggregation feeding this has
    * exactly ONE consumer. The previous cap-plus-self-join fallback kept
    * the same memory bound but re-executed the bucket aggregation's
    * reduce once per consumer — the r22 d11 sf10 profile read the 273 MB
    * banding shuffle 3x (819 MB) in the expansion job; a single hot
    * bucket gained no parallelism from the join either, since one
    * (band, digest) key occupies one reduce partition both ways. */
  private[graft] def bucketPairs(buckets: DataFrame): DataFrame =
    buckets
      .select(graft.functions.ArrayExprs.pair_combos_stream(col("ids"))
        .as(Seq("x", "y")))
      .select(least(col("x"), col("y")).as("id_a"),
        greatest(col("x"), col("y")).as("id_b"))

  /** MinHash + LSH near-duplicate candidate pairs, verified by exact
    * shingle Jaccard.
    *
    * Pipeline: fused text -> k-long MinHash signature (one byte-level
    * pass, ArrayExprs.minhashTextCompute) -> band digests -> explode
    * bands -> ONE shuffle grouping (band, digest) buckets -> per-bucket
    * pair expansion -> distinct pairs -> exact-Jaccard verification by
    * joining the (few) candidates back to the raw text. The only
    * non-equi work is the verification on the candidate set; no
    * self-join, so the signature pipeline runs exactly once and the
    * shuffle carries one narrow row per (doc, band).
    *
    * @return (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                 threshold: Double = 0.7): DataFrame = {
    // signatures via the FUSED byte-level expression (no intermediate
    // array<string> shingle column is ever materialized on the full
    // corpus). No persist: since verification joins back to the raw text,
    // the signature table has a single consumer — the banding groupBy —
    // so the pipeline runs exactly once with no reuse mechanism needed.
    val sigs = df.select(
      col(idCol).as("id"),
      graft.functions.ArrayExprs.minhash_text(col(textCol), shingleN, k).as("sig"))
    val banded = sigs.select(col("id"),
      explode(TextFns.lshBands(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.digest").as("digest"))
    // bucket-grouped candidate generation: ONE shuffle on (band, digest)
    // and a per-bucket pair expansion — vs the equivalent self equi-join,
    // this halves the shuffled volume, computes the signature pipeline
    // once instead of per join side, and needs no broadcast. Pair count
    // is identical (n(n-1)/2 per bucket, the LSH cost either way).
    val candidates = bucketPairs(
      banded.groupBy("band", "digest")
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) > 1))
      .distinct()
    // exact-Jaccard verification: join the candidates back to the raw
    // text first, THEN shingle — the shingle expressions sit above the
    // joins, so the array<string> sets exist only for the few candidate
    // rows, never for the full corpus
    // SHUFFLE_HASH on the corpus side, same round-15 rationale as
    // prefixJaccardPairs' verify (measured there: sf10 1.49x, disk spill
    // 103 GB -> 0.6 GB): sort-merge would sort the candidate stream twice,
    // the second time with each row carrying a full document text. The
    // corpus side is bounded per partition; the candidate stream streams.
    val texts = df.select(col(idCol).as("id"), col(textCol).as("__text"))
      .hint("SHUFFLE_HASH")
    candidates
      .join(texts.select(col("id").as("id_a"), col("__text").as("__ta")), Seq("id_a"))
      .join(texts.select(col("id").as("id_b"), col("__text").as("__tb")), Seq("id_b"))
      .withColumn("jaccard", TextFns.jaccardDistinct(
        TextFns.wordShingles(col("__ta"), shingleN),
        TextFns.wordShingles(col("__tb"), shingleN)))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Oracle-checkable twin of the LSH banding stage: md5-portable MinHash
    * signatures (TextFns.minhashPortable) banded with md5 digests
    * (TextFns.lshBandsPortable), then the PRODUCTION candidate path —
    * the (band, digest) bucket groupBy with in-place pair expansion and
    * hot-bucket join fallback (bucketPairs) — counting how many bands each
    * candidate pair shares. Certifies band-slice boundaries, bucket keys,
    * and pair multiplicity cross-engine; d03/d06 run the same pipeline
    * with the faster engine-native digests.
    *
    * @return (id_a, id_b, n_bands) with id_a < id_b, one row per
    *         candidate pair. */
  def lshCandidatesPortable(df: DataFrame, idCol: String, textCol: String,
                            shingleN: Int = 3, k: Int = 16, bands: Int = 4): DataFrame = {
    val sigs = df
      .select(col(idCol).as("id"),
        TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
      .filter(size(col("__sh")) > 0)
      .select(col("id"), TextFns.minhashPortable(col("__sh"), k).as("sig"))
    val banded = sigs.select(col("id"),
      explode(TextFns.lshBandsPortable(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.digest").as("digest"))
    // a pair shares band b iff both docs land in the same (b, digest)
    // bucket, so the bucket-expansion output carries exactly one pair
    // occurrence per shared band — count(*) IS n_bands
    bucketPairs(
      banded.groupBy("band", "digest")
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) > 1))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_bands"))
  }

  /** Near-duplicate CLUSTERING with exact-duplicate pre-collapse — the
    * template-pileup-proof composition of the dedup family. A
    * template-heavy corpus (the 100 TB norm: boilerplate pages, licence
    * headers, mirrored articles) piles thousands of byte-identical docs
    * into every LSH band bucket, where pair expansion is O(n^2) BY
    * CONSTRUCTION — no candidate mechanism can avoid emitting pairs that
    * really are duplicates, and [[bucketPairs]]'s join fallback only fixes
    * the memory shape, not the volume. The fix is semantic: downstream
    * dedup wants duplicate CLUSTERS, not the intra-group pair list, and a
    * group's members connect through their representative with n-1 edges
    * instead of n(n-1)/2 pairs — identical connected components, linear
    * in the pileup.
    *
    * Stages: (1) collapse byte-identical texts by md5 digest — one hash
    * agg + one digest-keyed join-back; (2) MinHash+LSH near-dup pairs
    * ([[minhashLsh]]) over the DISTINCT texts only, so every band bucket
    * shrinks to its distinct members and a 10^4-copy template contributes
    * ONE row to banding; (3) union the (rep -> member) exact edges;
    * (4) min-label connected components ([[duplicateClusters]]).
    *
    * @return (id, cluster_id): one row per document with at least one
    *         exact or near duplicate; cluster_id = min doc id of its
    *         duplicate cluster — same contract as [[duplicateClusters]].
    */
  def minhashLshClusters(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, k: Int = 128, bands: Int = 32,
                         threshold: Double = 0.7): DataFrame = {
    val t = df.select(col(idCol).as("id"), col(textCol).as("__text"),
      md5(col(textCol).cast("binary")).as("__h"))
    val reps = t.groupBy("__h").agg(min(col("id")).as("__rep"))
    val tagged = t.join(reps, Seq("__h"))
    val repDocs = tagged.filter(col("id") === col("__rep"))
      .select(col("id").as("doc_id"), col("__text").as("text"))
    val nearPairs = minhashLsh(repDocs, "doc_id", "text",
        shingleN, k, bands, threshold)
      .select("id_a", "id_b")
    val exactEdges = tagged.filter(col("id") =!= col("__rep"))
      .select(col("__rep").as("id_a"), col("id").as("id_b"))
    duplicateClusters(nearPairs.unionByName(exactEdges))
  }

  /** Top-N most similar pairs by MinHash estimate (no threshold) — useful
    * as a bounded-output diagnostic over corpora with no true near-dups. */
  def minhashTopPairs(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, k: Int = 64, bands: Int = 32,
                      topN: Int = 20): DataFrame = {
    // lazy localCheckpoint, not persist: same one-computation reuse across
    // the two consumers (banding + candidate join-back), but the blocks are
    // ContextCleaner-reclaimed when the frame goes out of scope instead of
    // pinning CacheManager storage across repeated invocations
    val sigs = df.select(
      col(idCol).as("id"),
      graft.functions.ArrayExprs.minhash_text(col(textCol), shingleN, k).as("sig"))
      .localCheckpoint(false)
    val banded = sigs.select(col("id"),
      explode(TextFns.lshBands(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band"), col("b.digest"))
    // same bucket-grouped pair expansion as minhashLsh (one shuffle),
    // with the same hot-bucket join fallback
    val cand = bucketPairs(
      banded.groupBy("band", "digest")
        .agg(collect_list(col("id")).as("ids"))
        .filter(size(col("ids")) > 1))
      .distinct()
    // SHUFFLE_HASH on the signature side (round-15, same rationale as the
    // verify joins above): never sort the candidate stream with signature
    // arrays aboard
    cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
      .withColumn("est_jaccard",
        round(TextFns.minhashEstimate(col("sig_a"), col("sig_b")), 4))
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .select("id_a", "id_b", "est_jaccard")
      .limit(topN)
  }

  /** SimHash near-dup pairs: 64-bit signatures, candidates via equality on
    * 16-bit signature chunks (any of 4 chunks equal -> candidate, which is
    * exact for hamming distance <= 3 by pigeonhole), verified by hamming
    * <= maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // lazy localCheckpoint for the same no-leak reuse as minhashTopPairs
    val sigs = df.select(col(idCol).as("id"),
      TextFns.simhash64(col(textCol)).as("sig"))
      .localCheckpoint(false)
    val chunked = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(c =>
        struct(lit(c).as("chunk"),
          call_function("shiftright", col("sig"), lit(c * 16))
            .bitwiseAND(lit(0xFFFFL)).as("piece"))): _*)).as("ck"))
      .select(col("id"), col("sig"), col("ck.chunk"), col("ck.piece"))
    chunked.as("x").join(chunked.as("y"),
        col("x.chunk") === col("y.chunk") && col("x.piece") === col("y.piece") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", TextFns.hamming(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Connected components over an undirected near-duplicate pair list
    * (id_a < id_b): every document gets the MIN doc id of its duplicate
    * cluster as `cluster_id` — the "group duplicates, then keep one
    * survivor per group" step that follows pair generation in a dedup
    * pipeline.
    *
    * Iterative min-label propagation: each round joins labels across
    * edges and keeps the elementwise minimum; converges in O(graph
    * diameter) rounds — near-dup clusters are short chains, so single
    * digits in practice. Each round is two hash shuffles on ids;
    * `localCheckpoint` cuts the growing lineage exactly like the k-means
    * loop (Ivf.fitCentroids). At extreme scale the same loop upgrades to
    * the large-star/small-star edge-rewriting variant; the operator
    * contract (id -> min-of-component) is unchanged. */
  def duplicateClusters(pairs: DataFrame, maxIters: Int = 50): DataFrame = {
    // PIN the derived edge set once (r19, the d11 spill-boundary fix):
    // `edges` is re-scanned on EVERY label-propagation round, and an
    // unpinned reference re-executes the whole upstream candidate
    // pipeline per round — for d11's MinHash-LSH input that recompute
    // was the flagship pipeline's structural spill source (sf10 A/B,
    // D11_AB_sf10_r19.json: composed 39.9/39.4s medians and ~11 GB
    // mem-spill per run vs 16.2/16.3s and ~3.5 GB with the pair stage
    // materialized, reversed-order sessions, identical results). The
    // pinned state is O(pairs) — bounded, never the corpus — matching
    // kCore's columnar-pinned edge set; honest leaf stats via Pins.
    // mirror via explode (Graph.mirror), not union-of-two-projections: the
    // union form evaluates the upstream PAIR PIPELINE once per branch —
    // for d11's MinHash-LSH input that is the whole candidate+verify
    // chain run twice before the pin materializes (r21 profile)
    val edges = graft.plans.Pins.pin(Graph.mirror(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))))
    val nodes = edges.select(col("src").as("id")).distinct()
    var labels = nodes.withColumn("cluster_id", col("id")).pinned
    // the changed flag rides the label join itself: a LAZY localCheckpoint
    // is materialized by the convergence count below, so each round runs
    // exactly ONE distributed job (the old shape ran a second full count
    // job per round — 2x the scheduling cost at scale)
    def round(lbls: DataFrame): (DataFrame, Long) = {
      val neighborMin = edges
        .join(lbls.select(col("id").as("dst"), col("cluster_id").as("nl")), Seq("dst"))
        .groupBy(col("src").as("id")).agg(min(col("nl")).as("nl"))
      val next = lbls.join(neighborMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nl"), col("cluster_id")))
            .as("cluster_id"),
          (col("nl") < col("cluster_id")).as("__changed"))
        .localCheckpoint(false)
      val ch = next.filter(col("__changed")).count()
      // the count above materialized the lazy pin; restamp so the next
      // round's plans see block-truth leaf stats, not the inherited
      // join-estimate (the r18 telemetry's recurring 5.8x poisoned pin)
      (graft.plans.Pins.restamp(next).drop("__changed"), ch)
    }
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIters) {
      iter += 1
      val (next, ch) = round(labels)
      labels = next; changed = ch
    }
    if (changed > 0) {
      // changes IN the final permitted round do not prove non-convergence —
      // propagation may have completed exactly on round maxIters. Run one
      // confirming round: if it is a no-op the labels are converged; only a
      // still-moving graph violates the id -> min-of-component contract,
      // and that is surfaced instead of silently returning multiple
      // survivors per true cluster.
      val (next, ch) = round(labels)
      labels = next
      if (ch > 0) throw new IllegalStateException(
        s"duplicateClusters did not converge after $maxIters rounds " +
          s"($ch labels still changing); raise maxIters or switch to " +
          "the large-star/small-star variant for extreme-diameter graphs")
    }
    labels
  }

  /** Connected components by alternating large-star / small-star edge
    * rewriting (Kiveris et al. 2014, "Connected Components in MapReduce
    * and Beyond" — public algorithm): the extreme-scale upgrade path that
    * `duplicateClusters`'s scaladoc promises. Same contract — every node
    * of the pair graph gets the MIN node id of its component as
    * `cluster_id` — but convergence is O(log n) rounds REGARDLESS of
    * graph diameter, vs O(diameter) for min-label propagation, so a
    * 100 TB corpus whose near-dup graph contains a million-node chain
    * (pathological but possible with templated text) still terminates in
    * ~20 rounds.
    *
    * Each round is two grouped aggregations (min per node) + two equi
    * joins — no collect_list, so a high-degree hub node never materializes
    * its neighborhood in one buffer; the per-node state is one bigint.
    *
    * large-star: for each u, hook every neighbor v > u onto
    *   m = min(N(u) + {u}) — strictly decreases big-endpoint potential.
    * small-star: on big->small directed edges, re-point every small
    *   neighbor (and u itself) at the per-u minimum.
    * Both preserve connectivity exactly; the fixpoint is a star forest
    * rooted at each component's minimum.
    */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 40): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      val sym = Graph.mirror(e.select(col("src"), col("dst")))
      val mins = sym.groupBy("src").agg(min(col("dst")).as("__mn"))
        .select(col("src"), least(col("__mn"), col("src")).as("m"))
      sym.join(mins, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .distinct()
    }
    def smallStar(e: DataFrame): DataFrame = {
      // direct big -> small; self loops (src==dst) carry no information
      val dir = e.select(greatest(col("src"), col("dst")).as("src"),
          least(col("src"), col("dst")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val mins = dir.groupBy("src").agg(min(col("dst")).as("m"))
      dir.join(mins, Seq("src"))
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
    }
    val edges0 = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .pinned
    var edges = edges0
    var iter = 0
    var converged = false
    while (!converged && iter < maxIters) {
      iter += 1
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // convergence = the edge SET is unchanged (count equality is not
      // enough: a round can rewire without changing cardinality). Both
      // sides are checkpointed, so the except is over materialized RDDs,
      // one small job per round on the shrinking star forest.
      converged = next.exceptAll(edges).isEmpty && edges.exceptAll(next).isEmpty
      // the except pair materialized the lazy pin: restamp (block-truth
      // leaf stats) before the next round plans against it
      edges = graft.plans.Pins.restamp(next)
    }
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsStar did not converge after $maxIters rounds; " +
        "raise maxIters (expected rounds are O(log n))")
    // fixpoint is a star forest: every non-root points at its component
    // min; roots appear only as dst. Emit roots with self labels.
    val nodes = edges0.select(col("src").as("id"))
      .union(edges0.select(col("dst").as("id"))).distinct()
    nodes.join(edges.select(col("src").as("id"), col("dst").as("lbl")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("lbl"), col("id")).as("cluster_id"))
  }

  /** Sorted-neighborhood near-duplicate pairs (Hernández–Stolfo SNM —
    * the classic entity-resolution alternative to LSH banding): rank the
    * corpus by a cheap blocking key (normalized-text prefix, unique-keyed
    * by id), compare only rows within `window` positions of each other,
    * and verify candidates with exact word-shingle Jaccard. Where LSH
    * catches any-position overlap, SNM catches the prefix-clustered
    * duplicates (mirrors, re-encodes, boilerplate variants) at strictly
    * linear candidate count — |corpus| x window pairs, no banding tables.
    *
    * Scale shape: the global order comes from the two-pass distributed
    * rank ([[graft.operators.Sampling.orderedRank]] — no window, no
    * single-task sort); neighbor pairs come from TWO equi joins on the
    * rank bucket `(rank-1) div window` (same-bucket + adjacent-bucket
    * covers every pair within `window` exactly once); only candidates
    * reach the shingle verify. Every stage is linear in the corpus.
    *
    * @return (id_a, id_b, jaccard) — id_a < id_b, verified
    *         jaccard >= threshold, 4-decimal midpoint-safe rounding
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int = 10, shingleN: Int = 3,
                              threshold: Double = 0.5): DataFrame = {
    require(window >= 1, "sortedNeighborhoodPairs: window must be >= 1")
    val keyed = df.select(col(idCol).as("id"), col(textCol).as("__text"),
      substring(normalizeText(col(textCol)), 1, 16).as("__key"))
    val ranked = graft.operators.Sampling.orderedRank(
        keyed, Seq(col("__key"), col("id")))
      .withColumn("__b", expr(s"(__rank - 1) div $window"))
      // shingle ONCE per document, AFTER the rank exchange (texts, not
      // 3x-bulkier shingle arrays, ride the range shuffle) and BEFORE the
      // pairing joins (which fan each row out to ~2*window candidates —
      // shingling after them would re-run the tokenize+distinct kernel
      // per candidate side, a ~2*window CPU multiplier on the verify).
      // The eager checkpoint materializes the shingled rows once; both
      // join sides read the blocks instead of re-deriving the rank.
      .select(col("id"), TextFns.wordShingles(col("__text"), shingleN).as("__sh"),
        col("__rank"), col("__b"))
      .pinned
    val l = ranked.select(col("id").as("__ida"), col("__sh").as("__sa"),
      col("__rank").as("__ra"), col("__b").as("__ba"))
    val r = ranked.select(col("id").as("__idb"), col("__sh").as("__sb"),
      col("__rank").as("__rb"), col("__b").as("__bb"))
    // same-bucket + adjacent-bucket equi joins enumerate each pair with
    // 0 < rank distance <= window exactly once (never both joins)
    val same = l.join(r, col("__ba") === col("__bb"))
    val adj = l.join(r, col("__ba") + 1 === col("__bb"))
    val cand = same.unionByName(adj)
      .filter(col("__rb") > col("__ra") &&
        col("__rb") <= col("__ra") + window)
    cand
      .withColumn("jaccard",
        floor(TextFns.jaccardDistinct(col("__sa"), col("__sb")) * 10000 + 0.5) / 10000)
      .filter(col("jaccard") >= threshold)
      .select(least(col("__ida"), col("__idb")).as("id_a"),
        greatest(col("__ida"), col("__idb")).as("id_b"), col("jaccard"))
  }

  /** Exact n-gram Jaccard over all pairs of a (small / pre-filtered) slice.
    * This is the verification-grade variant: O(n^2) pairs, so callers must
    * bound n (the LSH variants are the scale path). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
      TextFns.wordShingles(col(textCol), shingleN).as("sh"))
    sh.as("x").join(sh.as("y"), col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        // midpoint-safe 4-decimal rounding (integer-ratio values)
        (floor(TextFns.jaccardDistinct(col("x.sh"), col("y.sh")) * 10000 + 0.5) / 10000)
          .as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join at corpus scale via prefix filtering
    * (the AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair with shingle Jaccard >= threshold, with NO
    * all-pairs stage and NO approximation. Where [[minhashLsh]] trades
    * recall for speed and [[sortedNeighborhoodPairs]] bounds candidates by
    * rank distance, this is the provably-complete scale path:
    *
    *   1. shingle sets per doc (distinct word n-grams);
    *   2. a GLOBAL token order, rarest document-frequency first (one
    *      count aggregation — ties broken by the token string so the
    *      order is total and deterministic);
    *   3. each doc keeps only its PREFIX under that order — the first
    *      `s - ceil(t*s) + 1` of its `s` tokens. Prefix-filter lemma:
    *      J(A,B) >= t implies |A∩B| >= ceil(t*max(|A|,|B|)), and two
    *      sets whose intersection is that large MUST share a token
    *      inside these prefixes — so grouping by prefix token loses no
    *      qualifying pair;
    *   4. candidate pairs come from the prefix-token buckets (the same
    *      hot-bucket-capped expansion as LSH banding), pre-pruned by the
    *      length filter `t*|B| <= |A|` (J <= min/max regardless of
    *      overlap);
    *   5. exact Jaccard verification on the candidates only.
    *
    * Rarest-first ordering is what makes the buckets small: a token seen
    * in d docs costs at most d(d-1)/2 candidates, and prefixes
    * preferentially keep low-d tokens. Shuffles: token count, doc-array
    * rebuild, prefix bucket group, verify join — each linear in corpus
    * size + candidate count, never n^2.
    *
    * MEASURED REJECTION — accumulated/suffix filters (round-12 audit,
    * the d28 delta-peeling precedent): PPJoin's accumulated positional
    * filter (per-pair shared-prefix-token count alpha plus the
    * last-shared-position tail bound, one extra pair-keyed aggregation
    * in place of the distinct) was profiled off-engine on the sf0.1
    * corpus at t=0.5: it cuts candidates 124,979 -> 119,907 (~4%) —
    * this corpus's candidate mass shares MANY moderately-common tokens,
    * so joint positional bounds barely tighten the single-occurrence
    * bound. PPJoin+'s suffix filter would spend per-candidate array
    * probes comparable to the exact array_intersect verification it
    * tries to avoid. Both rejected on measurement; the per-occurrence
    * position filter stays.
    *
    * @return (id_a, id_b, jaccard) — id_a < id_b, exact verified
    *         jaccard >= threshold, 4-decimal midpoint-safe rounding
    */
  def prefixJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3,
                         threshold: Double = 0.5,
                         cap: Int = hotBucketCap): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"prefixJaccardPairs: threshold must be in (0, 1], got $threshold")
    val sets = df.select(col(idCol).as("id"),
        TextFns.wordShingles(col(textCol), shingleN).as("sh"))
      .filter(size(col("sh")) > 0)
      // pinned: referenced three times (token stream + both verification
      // sides) — unpinned, the corpus would be re-scanned and re-shingled
      // per reference
      .pinned
    val tokens = sets.select(col("id"), explode(col("sh")).as("tok"))
    // global document frequency per token — the ordering key. Pinned:
    // referenced by the doc-array rebuild AND the bijection certificate
    // below — unpinned, the token explode + count shuffle would run twice
    val freq = tokens.groupBy("tok").agg(count(lit(1)).as("df"))
      .pinned
    // rebuild each doc's token list SORTED rarest-first ((df, tok) struct
    // sort — total order), then keep the prefix. sort_array on the
    // per-doc array is per-row work, no window, no global sort.
    val docArr = tokens.join(freq, "tok")
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("df"), col("tok")))).as("arr"))
      .withColumn("sz", size(col("arr")))
      .withColumn("p",
        col("sz") - ceil(lit(threshold) * col("sz")).cast("int") + 1)
    val prefixes = docArr
      .select(col("id"), col("sz"),
        posexplode(slice(col("arr"), lit(1), col("p")))
          .as(Seq("i0", "e")))
      .select(col("e.tok").as("tok"), col("id"), col("sz"),
        (col("i0") + 1).as("pos")) // 1-based position in the sorted set
    // bucket by prefix token; expand to (id, sz, pos) pairs with the
    // length pre-filter and PPJoin's POSITION filter (Xiao et al.
    // WWW'08): a token at position i of A's rarest-first order leaves at
    // most sa - i later elements, so a shared occurrence bounds the
    // overlap by 1 + min(sa-i, sb-j); J >= t needs overlap >=
    // t/(1+t)·(sa+sb). Keeping pairs where ANY shared occurrence passes
    // is complete: the pair's FIRST common prefix token has no common
    // element before it, so its bound is valid, and for a qualifying
    // pair that bound exceeds the needed overlap — that occurrence
    // always survives. The epsilons keep float rounding from ever
    // OVER-pruning (verification below restores exact precision).
    val buckets = prefixes
      .groupBy("tok")
      .agg(collect_list(struct(col("id"), col("sz"), col("pos"))).as("ids"))
      .filter(size(col("ids")) > 1)
      // pinned: the in-place and hot-bucket branches both read it —
      // unpinned, the whole count→rebuild→prefix chain runs twice
      .pinned
    val inPlace = buckets.filter(size(col("ids")) <= cap)
      .select(explode(graft.functions.ArrayExprs.pair_combos(col("ids"))).as("p"))
      .select(col("p.x.id").as("ia"), col("p.x.sz").as("sa"),
        col("p.x.pos").as("pa"),
        col("p.y.id").as("ib"), col("p.y.sz").as("sb"),
        col("p.y.pos").as("pb"))
    // hot buckets (a prefix token landing in very many docs — a massive
    // templated near-dup cluster) stream through a token-keyed self
    // equi-join instead of one task-resident pair array, exactly like
    // [[bucketPairs]]' fallback
    val hot = buckets.filter(size(col("ids")) > cap)
      .select(col("tok"), explode(col("ids")).as("e"))
      .select(col("tok"), col("e.id").as("id"), col("e.sz").as("sz"),
        col("e.pos").as("pos"))
    val hotPairs = hot.as("x").join(hot.as("y"),
        col("x.tok") === col("y.tok") && col("x.id") < col("y.id"))
      .select(col("x.id").as("ia"), col("x.sz").as("sa"),
        col("x.pos").as("pa"),
        col("y.id").as("ib"), col("y.sz").as("sb"),
        col("y.pos").as("pb"))
    val candidates = inPlace.union(hotPairs)
      .filter((lit(1.0) +
          least(col("sa") - col("pa"), col("sb") - col("pb")).cast("double")) >=
        lit(threshold / (1.0 + threshold)) *
          (col("sa") + col("sb")).cast("double") - lit(1e-9))
      .select(least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        least(col("sa"), col("sb")).as("mn"),
        greatest(col("sa"), col("sb")).as("mx"))
      .filter(col("mn").cast("double") >=
        lit(threshold) * col("mx").cast("double") - lit(1e-9))
      .select("id_a", "id_b").distinct()
    // exact verification joins the (few) candidates back to the sets.
    // DICTIONARY-HASH RELABELING (round-12 profile: verification was the
    // dominant stage — the candidate rows carry a whole shingle array
    // through two join shuffles, and the per-pair intersect hashes
    // strings): shingles are relabeled to xxhash64 longs, which shuffles
    // ~8x fewer bytes and intersects longs — measured 2.6x on the
    // verification stage at sf0.1 (3.3s -> 1.3s), identical output.
    // Exactness is CERTIFIED, not assumed: one aggregation over the
    // (pinned) token dictionary proves the relabeling is a bijection on
    // this corpus — a bijection preserves set sizes and intersections,
    // so the hashed Jaccard IS the exact Jaccard. On a collision (two
    // distinct tokens, one hash — astronomically unlikely but checked)
    // verification falls back to the raw string arrays, so the exact
    // contract is unconditional.
    // NOTE: this `.head()` makes the BUILDER eager — constructing the d27
    // DataFrame executes a corpus-scale aggregation (one output row, but a
    // full dictionary scan) before anything subscribes to the plan. That
    // is the price of a *certified* relabeling: the bijection must be
    // proven against the actual corpus before the plan that depends on it
    // can be chosen. Callers composing d27 lazily should build it once and
    // reuse the frame.
    val bij = freq.agg(count(lit(1)).as("n"),
      countDistinct(xxhash64(col("tok"))).as("nh")).head()
    val vsets =
      if (bij.getLong(0) == bij.getLong(1))
        sets.select(col("id"), transform(col("sh"), t => xxhash64(t)).as("sh"))
      else sets
    // SHUFFLE_HASH on the corpus side (round-15, measured at sf10, numbers
    // in BENCH_sf10.json): sort-merge would SORT the candidate-many
    // stream twice, and after the first join every stream row carries a
    // full shingle array — at sf10 that sort alone spilled ~17 GB/run
    // (103 GB over a 6-run bench session) and, on the pre-fix folded
    // corpus, exhausted the sandbox disk. The hash join keeps both
    // exchanges but eliminates both sorts: the build side is the CORPUS
    // (bounded per partition by |corpus|/shuffle.partitions — partitions
    // scale with the cluster at 100 TB), while the unbounded candidate
    // stream only ever streams. Results are join-semantics-identical;
    // the hint degrades to SMJ if the planner can't apply it.
    // MEASURED (fresh-JVM sessions, same corpus): sf10 median 142.8s
    // (SMJ) -> 96.2s (SHJ, 1.49x, under a SLOWER probe epoch 0.96 vs
    // 0.76), session disk spill 103 GB -> 0.6 GB; sf1 is a tie (5.31 vs
    // 5.08 — nothing spills there, so the sorts were never the cost).
    // Plan pinned by PlanQualitySpec ("verification joins hash, never
    // sort"); oracle-green at sf0.01 post-change.
    val l = vsets.select(col("id").as("id_a"), col("sh").as("__sa"))
      .hint("SHUFFLE_HASH")
    val r = vsets.select(col("id").as("id_b"), col("sh").as("__sb"))
      .hint("SHUFFLE_HASH")
    candidates.join(l, Seq("id_a")).join(r, Seq("id_b"))
      .withColumn("jaccard",
        floor(TextFns.jaccardDistinct(col("__sa"), col("__sb")) * 10000 + 0.5) / 10000)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Normalized Levenshtein similarity in [0, 1]: 1 - dist/max(len), the
    * midpoint-safe floor idiom on the integer ratio. Edit distance is the
    * unit-cost Wagner-Fischer both here and in the oracle — exact integers,
    * so the similarity is bit-deterministic cross-engine. */
  def editSimilarity(a: Column, b: Column): Column =
    floor((lit(1.0) - levenshtein(a, b).cast("double") /
      greatest(length(a), length(b), lit(1)).cast("double")) * 10000 + 0.5) / 10000

  /** Incremental deduplication of a NEW batch against an existing (already
    * deduplicated) corpus — the production shape: a daily crawl must not
    * re-dedup the world, so the corpus side is reduced to two small
    * precomputable artifacts (in practice stored as tables and merely
    * read): the md5 text-digest index and the (band, digest) LSH index.
    * Per-batch cost is then proportional to the BATCH — its digests and
    * bands, the band-collision candidates, and a Jaccard verification
    * bounded by the candidate set — never to the corpus row count.
    *
    * Classification per batch doc, in precedence order: `exact` (its md5
    * digest exists in the corpus), `near` (shares >= 1 LSH band bucket
    * with a corpus doc AND word-shingle Jaccard >= `threshold` against
    * it), else `new`. `match_id` is the smallest qualifying corpus id
    * (NULL for `new`). All joins are equi on digests / (band, digest) /
    * ids; the md5-portable signature path ([[lshCandidatesPortable]])
    * makes every stage replayable by an external engine.
    *
    * @return (idCol, status, match_id) — one row per batch document
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame,
                       idCol: String = "doc_id", textCol: String = "text",
                       shingleN: Int = 3, k: Int = 16, bands: Int = 4,
                       threshold: Double = 0.5): DataFrame =
    incrementalDedupIndexed(
      corpusDigestIndex(corpus, idCol, textCol),
      corpusBandIndex(corpus, idCol, textCol, shingleN, k, bands),
      corpus, batch, idCol, textCol, shingleN, k, bands, threshold)

  /** The corpus md5 text-digest index for [[incrementalDedup]]: one row
    * per distinct text, carrying the smallest owning id. In production
    * this IS a stored table, written once per corpus release and merely
    * read by every batch. */
  def corpusDigestIndex(corpus: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    corpus
      .select(md5(col(textCol).cast("binary")).as("__dig"),
        col(idCol).as("__cid"))
      .groupBy("__dig").agg(min("__cid").as("__exact_id"))

  /** The corpus (band, digest) LSH index for [[incrementalDedup]]:
    * `bands` rows per document with a non-empty shingle set. Stored-table
    * artifact like [[corpusDigestIndex]]. */
  def corpusBandIndex(corpus: DataFrame, idCol: String = "doc_id",
                      textCol: String = "text", shingleN: Int = 3,
                      k: Int = 16, bands: Int = 4): DataFrame =
    bandRows(corpus, idCol, "__cand_cid", textCol, shingleN, k, bands)

  private def bandRows(df: DataFrame, idCol: String, asId: String,
                       textCol: String, shingleN: Int, k: Int,
                       bands: Int): DataFrame = df
    .select(col(idCol).as(asId),
      TextFns.wordShingles(col(textCol), shingleN).as("__sh"))
    .filter(size(col("__sh")) > 0)
    .select(col(asId), TextFns.minhashPortable(col("__sh"), k).as("__sig"))
    .select(col(asId),
      explode(TextFns.lshBandsPortable(col("__sig"), k, bands)).as("__b"))
    .select(col(asId), col("__b.band").as("__band"), col("__b.digest").as("__bd"))

  /** Index MAINTENANCE: fold a batch's accepted (status = `new`)
    * documents into the stored digest index — the step that closes the
    * daily-crawl loop (classify batch N against the index, admit its new
    * docs, classify batch N+1 against the grown index). A pure
    * union + re-min: the merged index is exactly what
    * [[corpusDigestIndex]] would build over corpus ∪ newDocs, at the
    * cost of the DELTA (the union's grouped min touches index rows, not
    * corpus texts). */
  def updateDigestIndex(digestIdx: DataFrame, newDocs: DataFrame,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame =
    digestIdx.unionByName(corpusDigestIndex(newDocs, idCol, textCol))
      .groupBy("__dig").agg(min("__exact_id").as("__exact_id"))

  /** Band-index counterpart of [[updateDigestIndex]]: banding is
    * per-document, so the merged index is a plain append of the new
    * docs' band rows. k/bands/shingleN must match the original build. */
  def updateBandIndex(bandIdx: DataFrame, newDocs: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      shingleN: Int = 3, k: Int = 16,
                      bands: Int = 4): DataFrame =
    bandIdx.unionByName(
      corpusBandIndex(newDocs, idCol, textCol, shingleN, k, bands))

  /** [[incrementalDedup]] against PRECOMPUTED corpus artifacts — the form
    * a streaming ingest loop runs per micro-batch: the digest and band
    * indexes are read, not rebuilt, so the candidate generation costs
    * O(batch). `corpusTexts` is touched only by the Jaccard verification,
    * equi-joined on the (already candidate-bounded) matched ids. */
  def incrementalDedupIndexed(digestIdx: DataFrame, bandIdx: DataFrame,
                              corpusTexts: DataFrame, batch: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text", shingleN: Int = 3,
                              k: Int = 16, bands: Int = 4,
                              threshold: Double = 0.5): DataFrame = {
    // k/bands/shingleN MUST match the values bandIdx was built with, or
    // the batch's band digests can never collide with the index
    val cand = bandRows(batch, idCol, "__id", textCol, shingleN, k, bands)
      .join(bandIdx, Seq("__band", "__bd"))
      .select("__id", "__cand_cid").distinct()
    val near = cand
      .join(batch.select(col(idCol).as("__id"),
        TextFns.wordShingles(col(textCol), shingleN).as("__sha")), Seq("__id"))
      .join(corpusTexts.select(col(idCol).as("__cand_cid"),
        TextFns.wordShingles(col(textCol), shingleN).as("__shb")),
        Seq("__cand_cid"))
      .filter(TextFns.jaccardDistinct(col("__sha"), col("__shb")) >= threshold)
      .groupBy(col("__id")).agg(min(col("__cand_cid")).as("__near_id"))
    batch.select(col(idCol).as("__id"),
        md5(col(textCol).cast("binary")).as("__dig"))
      .join(digestIdx, Seq("__dig"), "left")
      .join(near, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        when(col("__exact_id").isNotNull, lit("exact"))
          .when(col("__near_id").isNotNull, lit("near"))
          .otherwise(lit("new")).as("status"),
        coalesce(col("__exact_id"), col("__near_id")).as("match_id"))
  }

  /** Span-level exact-substring deduplication (the ExactSubstr step of
    * Lee et al. 2022, arXiv:2107.06499 — "Deduplicating Training Data
    * Makes Language Models Better"): excise from every document each
    * `n`-token window whose exact text occurs anywhere else in the
    * corpus, keeping only the corpus-wide canonical occurrence (the one
    * with the smallest (doc_id, pos)). Tokens covered by at least one
    * excised window are dropped; the survivors are rejoined. Unlike
    * [[crossDocNgramDup]] (which only SCORES overlap) this rewrites the
    * text — the form a training pipeline actually ships.
    *
    * Scale shape: one explode to (doc, pos, window-digest), ONE shuffle
    * on the digest for (count, canonical) — digests are md5, so the
    * aggregation is uniform regardless of text skew — then one
    * per-document aggregation of removable starts and an equi join back
    * to the docs. Coverage expansion is array-local per row (bounded by
    * document length), never a shuffle. The canonical pick is an integer
    * min over doc_id*2^32+pos — portable, no struct-ordering semantics.
    * The packing is exact for doc_id in [0, 2^31) and any Int position
    * (pos < 2^32 by type); an out-of-range doc id fails loudly per row
    * (raise_error) instead of silently electing a wrong canonical.
    *
    * @return (doc_id, n_tokens, n_removed, text_dedup)
    */
  def spanDedup(docs: DataFrame, n: Int = 10, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    require(n >= 2, "spanDedup: n must be >= 2")
    val toks = docs.select(col(idCol), TextFns.words(col(textCol)).as("__w"))
    val grams = toks.select(col(idCol),
        explode(when(size(col("__w")) < n,
            array().cast("array<struct<pos:int,dig:string>>"))
          .otherwise(transform(sequence(lit(1), size(col("__w")) - (n - 1)),
            i => struct(i.cast("int").as("pos"),
              md5(concat_ws(" ", slice(col("__w"), i, lit(n))).cast("binary"))
                .as("dig"))))).as("__g"))
      .select(col(idCol), col("__g.pos").as("__pos"), col("__g.dig").as("__dig"),
        when(col(idCol) < 0L || col(idCol) > Int.MaxValue.toLong,
            raise_error(concat(lit("spanDedup: doc id out of packable range " +
              "[0, 2^31): "), col(idCol).cast("string"))))
          .otherwise(col(idCol) * 4294967296L + col("__g.pos")).as("__packed"))
    val stats = grams.groupBy("__dig").agg(count(lit(1)).as("__cnt"),
      min("__packed").as("__canon"))
    val starts = grams.join(stats, Seq("__dig"))
      .filter(col("__cnt") > 1 && col("__packed") =!= col("__canon"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__pos"))).as("__s"))
    toks.join(starts, Seq(idCol), "left")
      .select(col(idCol), size(col("__w")).cast("long").as("n_tokens"),
        coalesce(col("__s"), array().cast("array<int>")).as("__s"), col("__w"))
      // sequence(1, 0) would count DOWN; guard the empty-document case
      .withColumn("__keep", when(size(col("__w")) === 0,
          array().cast("array<int>"))
        .otherwise(filter(sequence(lit(1), size(col("__w"))),
          i => !exists(col("__s"), s => s <= i && i < s + n))))
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - size(col("__keep"))).cast("long").as("n_removed"),
        concat_ws(" ",
          transform(col("__keep"), i => element_at(col("__w"), i)))
          .as("text_dedup"))
  }

  /** Character-level verification of candidate near-dup pairs: joins each
    * (id_a, id_b) back to its texts and scores normalized edit similarity —
    * the strict verifier applied AFTER cheap candidate generation
    * (MinHash-LSH banding at scale; all-pairs only on bounded slices).
    * O(|a|*|b|) per pair, which is why it never runs corpus x corpus:
    * the candidate set bounds the quadratic term, the two joins are equi
    * on the ids. */
  def editDistanceVerify(candidates: DataFrame, docs: DataFrame,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame =
    // SHUFFLE_HASH on the corpus side — same round-15 rationale as the
    // other verify join-backs: the candidate stream must never be SORTED
    // carrying document texts
    candidates
      .join(docs.select(col(idCol).as("id_a"), col(textCol).as("__ta"))
        .hint("SHUFFLE_HASH"), Seq("id_a"))
      .join(docs.select(col(idCol).as("id_b"), col(textCol).as("__tb"))
        .hint("SHUFFLE_HASH"), Seq("id_b"))
      .withColumn("edit_sim", editSimilarity(col("__ta"), col("__tb")))
      .drop("__ta", "__tb")
      .select(col("id_a"), col("id_b"), col("edit_sim"))
}
