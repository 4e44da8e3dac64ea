package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import scala.util.Random

/** Operator-parameter fuzzer (round-16 verdict task 4): the SQL fuzzer
  * (`tools/fuzz_check.py`) patrols the relational surface against DuckDB;
  * this main patrols the DEDUP/SIMILARITY OPERATOR surface against
  * brute-force oracles, at randomized parameters the fixed catalog never
  * varies. Seeded draws; violations are contract breaches, not noise:
  *
  *  - prefix_exact: `Dedup.prefixJaccardPairs(theta, n)` must equal the
  *    all-pairs `ngramJaccardPairs(theta, n)` EXACTLY (the AllPairs/PPJoin
  *    prefix+length+position filters are provably complete — any missing
  *    or extra pair is an engine bug). Pair set AND 4-dp jaccard values.
  *  - prefix_hotcap: the same operator with the hot-bucket cap forced to
  *    tiny values (1/2/8) must produce the identical pair set — the
  *    in-place and streamed-join bucket expansions are one semantics,
  *    two memory shapes.
  *  - lsh_sound: `minhashLsh(n, k, bands, theta)` must be a SUBSET of the
  *    exact pairs with matching jaccard values (its verification step is
  *    exact); recall is recorded per draw, never asserted (banding is
  *    probabilistic by design).
  *  - sorted_window: `sortedNeighborhoodPairs(w, n, theta)` must equal a
  *    DRIVER-SIDE re-implementation: sort (substr(normalize(text),1,16),
  *    id), enumerate pairs within rank distance w, shingle+jaccard in
  *    plain Scala (independent of every engine kernel under test).
  *  - simhash: `simhashPairs(maxH <= 3)` must equal the brute-force
  *    all-pairs hamming filter over the same signatures (the 16-bit-chunk
  *    pigeonhole candidate generation is complete for maxH <= 3).
  *
  * Round-17 additions, all against independent driver-side replays:
  * `kcore` (vs Matula–Beck peeling), `hops` (vs reference BFS), `paths`
  * (vs round-bounded Bellman–Ford), `resample` (grid LOCF/lerp/nearest
  * vs brute bracketing), `span_dedup` (excision replay: md5 window
  * digests, min-packed canonical, coverage rebuild), `pack` (60-bit
  * key-hash sharding + exclusive prefix sums), `ohlc` (min_by/max_by
  * over the (ts, tieBreak) total order under planted timestamp ties).
  *
  * Round-18 additions (verdict task 5 — the exactly-once claims were
  * certified at FIXED kill points only; these fuzz the kill point):
  *  - restart_bus: the graft-bus connector under a randomized
  *    produce/kill schedule — random partition count, random number of
  *    restarts (incl. no-new-data restarts), random record-to-wave
  *    assignment, ~10% planted duplicate payloads. A passthrough stream
  *    must deliver the produced MULTISET exactly (no loss, no
  *    redelivery) across every mid-log recovery.
  *  - restart_mf: the stateful SSINS match filter killed at 1-2 RANDOM
  *    observation cut points (s20's fixed time_idx<=8 kill,
  *    generalized), with a require that nothing was emitted before the
  *    final wave; the recovered flag set must equal the batch
  *    MatchFilter on the same cells bit-for-bit.
  *
  * Round-18 second wave (the relational/graph operators the first 14
  * families never reached), all vs plain-Scala second implementations:
  *  - cc: BOTH connected-components variants (min-label propagation and
  *    the large-star/small-star alternation) vs sequential union-find —
  *    one draw exercises one variant, the component-min label contract
  *    is common.
  *  - triangles: degree-ordered wedge-join triangle counting vs direct
  *    O(nv^3) triple enumeration over the edge set.
  *  - cdc: mergeUpsert (source-wins) / mergeLatest (order-wins) folded
  *    over 1-3 random change batches vs a driver fold, with ~20% NULL
  *    values patrolling the update-to-NULL contract; plus scd2 run
  *    compression vs a driver run-length replay under ~30% timestamp
  *    ties.
  *  - intervals: mergeIntervals vs a driver sweep line, with planted
  *    touching spans and swallowed intervals (the running-max-not-lag
  *    distinction).
  *
  * Round-20 second wave (the remaining first-class operators no family
  * had reached directly):
  *  - asof: the raw as-of join vs a driver bracket scan, with planted
  *    left==right timestamp ties, keys absent from the right side, and
  *    NULLs inside the carried value columns (the row-consistency
  *    contract: every carried value comes from ONE matched right row).
  *  - topk: the custom GroupTopK SparkPlan vs a driver sort, with dense
  *    value ties planted at the rank-k boundary, cross-checked against
  *    the window row_number form on the same draw.
  *  - pagerank: integer-scaled PageRank vs a driver power iteration
  *    replaying the identical DIV arithmetic — bit-exact.
  *  - bpe: bpeTrain's (count, lex) tie-break and early-stop under a
  *    4-letter alphabet (dense pair-count ties), then the learned table
  *    fed through bpeTokenize / the native BpeEncode expression, vs
  *    per-word driver replays.
  *  - sample: hashSample / stratifiedSample / splitAssign /
  *    shuffleShards / weightedSample vs md5 driver replays — tiny
  *    domains land one row on each integer quota boundary
  *    (n*permille/1000 floors); the A-ES weighted top-n is recomputed
  *    at the exact nested-sqrt IEEE doubles.
  *
  * Usage: runMain graft.OpFuzz <sfDir> <nDraws> <seed> <outJson>
  * (outJson defaults to OPFUZZ.json in the JVM temp dir).
  * Exit 0 iff zero violations; the JSON artifact records every draw.
  */
object OpFuzz {

  // ---- independent driver-side text kernels (plain Scala, no Spark
  // expressions — the point is a second implementation) ----
  private def shingles(text: String, n: Int): Set[String] = {
    val ws = text.split("\\s+").filter(_.nonEmpty)
    if (ws.length < n) Set.empty
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  private def jac4(a: Set[String], b: Set[String]): Double = {
    val inter = (a & b).size
    val j = inter.toDouble / (a.size + b.size - inter).toDouble
    math.floor(j * 10000 + 0.5) / 10000
  }

  private def normalize(text: String): String =
    text.toLowerCase
      .replaceAll("[^\\p{L}\\p{N} \\t\\n]", " ")
      .replaceAll("\\s+", " ").trim

  private type Pairs = Map[(Long, Long), Double]

  /** Collects (idA, idB, score) rows into a Map, FAILING on duplicate
    * keys (round-16 ADVICE): .toMap alone would silently collapse an
    * operator bug that emits the same qualifying pair twice (e.g. once
    * per shared token in a hot-bucket join path), making it invisible to
    * every family's oracle comparison. */
  private def collectPairs(df: DataFrame): Pairs = {
    val rows = df.collect().toSeq.map { r =>
      (r.getLong(0), r.getLong(1)) -> (r.get(2) match {
        case d: Double => d
        case i: Int => i.toDouble
        case l: Long => l.toDouble
      })
    }
    val dups = rows.groupBy(_._1).filter(_._2.size > 1).keys
    require(dups.isEmpty,
      s"operator emitted duplicate pairs: ${dups.take(5).toList} (${dups.size} total)")
    rows.toMap
  }

  // ---- driver-side graph references (round-17 verdict task 5: extend
  // the fuzzer beyond dedup/similarity). Plain-Scala second
  // implementations, sharing NO kernel with graft.operators.Graph. ----

  /** Matula–Beck peeling on an adjacency map of DISTINCT neighbors —
    * the textbook sequential k-core, vs the operator's distributed
    * semi-join fixpoint. */
  private def refKCore(edges: Seq[(Long, Long)], k: Int): Set[Long] = {
    import scala.collection.mutable
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    }
    var changed = true
    while (changed) {
      val drop = adj.collect { case (v, ns) if ns.size < k => v }.toSet
      changed = drop.nonEmpty
      drop.foreach(adj.remove)
      adj.values.foreach(_ --= drop)
    }
    adj.keySet.toSet
  }

  /** Reference BFS — vs the operator's two-level settled-window anti
    * join (the exactness claim under patrol). */
  private def refHops(edges: Seq[(Long, Long)], seeds: Set[Long],
                      maxHops: Int, directed: Boolean): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) =>
      if (directed) Seq(a -> b) else Seq(a -> b, b -> a)
    }.groupBy(_._1).map { case (v, vs) => v -> vs.map(_._2).toSet }
    var dist = seeds.map(_ -> 0L).toMap
    var frontier = seeds
    var h = 0L
    while (h < maxHops && frontier.nonEmpty) {
      h += 1
      val next = frontier.flatMap(v => adj.getOrElse(v, Set.empty))
        .diff(dist.keySet)
      dist ++= next.map(_ -> h)
      frontier = next
    }
    dist
  }

  /** Reference Bellman–Ford with exactly `rounds` relaxation rounds,
    * each reading the start-of-round distances — mirroring the
    * operator's union+min contract ("min total weight over paths of at
    * most `rounds` edges"). */
  private def refPaths(edges: Seq[(Long, Long, Long)], seeds: Set[Long],
                       rounds: Int, directed: Boolean): Map[Long, Long] = {
    val dir = edges.flatMap { case (a, b, w) =>
      if (directed) Seq((a, b, w)) else Seq((a, b, w), (b, a, w)) }
    var dist: Map[Long, Long] = seeds.map(_ -> 0L).toMap
    for (_ <- 1 to rounds) {
      val relax = dir.flatMap { case (u, v, w) =>
        dist.get(u).map(du => v -> (du + w)) }
      dist = (dist.toSeq ++ relax).groupBy(_._1)
        .map { case (v, ds) => v -> ds.map(_._2).min }
    }
    dist
  }

  /** Brute-force resample oracle: per grid instant, bracket the deduped
    * (max-tieBreak per (key,ts)) series and value it under all three
    * regimes — LOCF (at-or-before), exact-integer lerp with truncating
    * division (the operator's portable contract), and nearest with
    * at-or-before tie preference. Times in epoch micros, values in
    * centi-units. Returns (locf, lerp, nearest) maps keyed (key, gridUs). */
  private def refResample(events: Seq[(Long, Long, Double, Long)],
                          stepHours: Int)
      : (Map[(Long, Long), Option[Long]], Map[(Long, Long), Option[Long]],
         Map[(Long, Long), Option[Long]]) = {
    val hourUs = 3600L * 1000000L
    val stepUs = stepHours.toLong * hourUs
    val dedup = events.groupBy(e => (e._1, e._2))
      .map { case (_, es) => es.maxBy(_._4) }.toSeq
    val locf = scala.collection.mutable.Map[(Long, Long), Option[Long]]()
    val lerp = scala.collection.mutable.Map[(Long, Long), Option[Long]]()
    val near = scala.collection.mutable.Map[(Long, Long), Option[Long]]()
    dedup.groupBy(_._1).foreach { case (k, es0) =>
      val es = es0.sortBy(_._2).map(e => (e._2, math.round(e._3 * 100)))
      val t0 = es.map(_._1).min / hourUs * hourUs // date_trunc('hour', min)
      val t1 = es.map(_._1).max
      Iterator.iterate(t0)(_ + stepUs).takeWhile(_ <= t1).foreach { g =>
        val before = es.filter(_._1 <= g).lastOption
        val after = es.find(_._1 > g)
        locf((k, g)) = before.map(_._2)
        lerp((k, g)) = (before, after) match {
          case (None, _) => None
          case (Some((_, va)), None) => Some(va)
          case (Some((ta, va)), Some((tb, vb))) =>
            Some(va + (vb - va) * (g - ta) / (tb - ta)) // Long /: trunc-to-zero
        }
        near((k, g)) = (before, after) match {
          case (None, Some((_, vb))) => Some(vb)
          case (Some((_, va)), None) => Some(va)
          case (Some((ta, va)), Some((tb, vb))) =>
            Some(if (g - ta <= tb - g) va else vb)
          case (None, None) => None
        }
      }
    }
    (locf.toMap, lerp.toMap, near.toMap)
  }

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Driver-side replay of Dedup.spanDedup (round-17: the span-excision
    * rewrite joins the patrol): same tokenization (split on \s+, drop
    * empties), md5 window digests, corpus-wide (count, min-packed
    * canonical) stats, per-doc coverage excision, single-space rebuild —
    * in plain Scala collections, independent of every engine kernel. */
  private def refSpanDedup(local: Seq[(Long, String)],
                           n: Int): Map[Long, (Long, Long, String)] = {
    val words = local.map { case (id, t) =>
      id -> t.split("\\s+").filter(_.nonEmpty).toVector }
    val grams = words.flatMap { case (id, w) =>
      if (w.length < n) Seq.empty
      else (1 to (w.length - (n - 1))).map { pos =>
        (md5hex(w.slice(pos - 1, pos - 1 + n).mkString(" ")),
          id * 4294967296L + pos, id, pos)
      }
    }
    val stats = grams.groupBy(_._1).map { case (d, gs) =>
      d -> ((gs.size.toLong, gs.map(_._2).min)) }
    val startsByDoc = grams
      .filter { g => val (c, canon) = stats(g._1); c > 1 && g._2 != canon }
      .groupBy(_._3).map { case (id, gs) => id -> gs.map(_._4).sorted }
    words.map { case (id, w) =>
      val starts = startsByDoc.getOrElse(id, Seq.empty)
      val keep = (1 to w.length)
        .filterNot(i => starts.exists(s => s <= i && i < s + n))
      id -> ((w.length.toLong, (w.length - keep.size).toLong,
        keep.map(i => w(i - 1)).mkString(" ")))
    }.toMap
  }

  /** Driver-side replay of Sampling.packSequences: the 60-bit portable
    * key hash (first 15 hex of md5), shard = hash mod shards, per-shard
    * (hash, key) order, exclusive prefix sum, integral bin division. */
  private def refPack(tokens: Seq[(Long, Long)], budget: Int,
                      shards: Int): Map[Long, (Long, Long)] = {
    val rows = tokens.map { case (id, tok) =>
      val h = java.lang.Long.parseLong(md5hex(id.toString).take(15), 16)
      (id, h, h % shards, tok)
    }
    rows.groupBy(_._3).flatMap { case (shard, rs) =>
      var cum = 0L
      rs.sortBy(r => (r._2, r._1)).map { case (id, _, _, tok) =>
        val excl = cum; cum += tok
        id -> ((shard * (1L << 40) + excl / budget, excl % budget))
      }
    }
  }

  /** Driver-side replay of RelationalOps.ohlcDownsample: UTC-epoch
    * truncation, min_by/max_by over the total (ts, tieBreak) order,
    * plain min/max/count — no arithmetic, so doubles compare bitwise. */
  private def refOhlc(evs: Seq[(Long, Long, Double, Long)], unitUs: Long)
      : Map[(Long, Long), (Double, Double, Double, Double, Long)] =
    evs.groupBy { case (k, us, _, _) => (k, us - us % unitUs) }
      .map { case (kb, es) =>
        kb -> ((es.minBy(e => (e._2, e._4))._3,
          es.map(_._3).max, es.map(_._3).min,
          es.maxBy(e => (e._2, e._4))._3, es.size.toLong))
      }

  /** Generic keyed-value diff (graph/resample families). */
  /** Union-find min-label components — the textbook sequential CC, vs
    * BOTH distributed variants (min-label propagation and the
    * Kiveris et al. large-star/small-star alternation). Path-halving
    * find; the component label is the MIN id, matching the operators'
    * cluster_id contract. */
  private def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import scala.collection.mutable
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) {
        val p = parent(r)
        parent(r) = parent.getOrElse(p, p) // path halving
        r = parent(r)
      }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ids = edges.flatMap(e => Seq(e._1, e._2)).distinct
    ids.map(v => v -> find(v)).toMap
  }

  /** Per-vertex triangle counts by direct triple enumeration over the
    * edge SET — O(nv^3) but nv <= ~45 here; independent of the
    * operator's degree-ordered wedge-join machinery. */
  private def refTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.toSet
    val vs = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val counts = scala.collection.mutable.Map.empty[Long, Long]
    for {
      i <- vs.indices; j <- (i + 1) until vs.size; k <- (j + 1) until vs.size
      (a, b, c) = (vs(i), vs(j), vs(k))
      if es((a, b)) && es((a, c)) && es((b, c))
    } Seq(a, b, c).foreach(v => counts(v) = counts.getOrElse(v, 0L) + 1L)
    counts.toMap
  }

  /** Driver bracket scan for the raw as-of join (J9): per left row, the
    * matched right row under the drawn direction (backward = max rightTs
    * at-or-before, forward = min at-or-after, nearest = closer side with
    * exact-distance ties resolved backward), voided when farther than the
    * drawn tolerance — the WHOLE row, so a NULL inside a matched row's
    * value column must surface as NULL, never an older non-null value.
    * Right (key, ts) are unique by the draw's construction (right-side ts
    * ties are contractually nondeterministic and held out). */
  private def refAsOf(lefts: Seq[(Long, Long, Long)],
                      rights: Seq[(Long, Long, Option[Long], Option[Long])],
                      direction: String, tolUs: Option[Long])
      : Map[Long, (Option[Long], Option[Long])] =
    lefts.map { case (lid, k, lts) =>
      val cand = rights.filter(_._1 == k)
      val back = cand.filter(_._2 <= lts).sortBy(_._2).lastOption
      val fwd = cand.filter(_._2 >= lts).sortBy(_._2).headOption
      val picked = direction match {
        case "backward" => back
        case "forward" => fwd
        case "nearest" => (back, fwd) match {
          case (Some(b), Some(f)) =>
            if (f._2 - lts < lts - b._2) Some(f) else Some(b) // tie -> back
          case (b, f) => b.orElse(f)
        }
      }
      val ok = picked.filter(c => tolUs.forall(t => math.abs(c._2 - lts) <= t))
      lid -> (ok match {
        case Some(c) => (c._3, c._4)
        case None => (None: Option[Long], None: Option[Long])
      })
    }.toMap

  /** Driver power iteration replaying pageRankScaled's INTEGER arithmetic
    * exactly: symmetric directed edges, pr0 = scale/n, each round
    * pr(v) = base + (85 * sum over in-neighbors u of (pr(u) DIV deg(u)))
    * DIV 100, base = (15*scale/100)/n. Every intermediate is positive, so
    * Scala's truncating / is Spark's DIV — the compare is bit-exact. */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
                          scale: Long): Map[Long, Long] = {
    val dir = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val deg = dir.groupBy(_._1).map { case (s, es) => s -> es.size.toLong }
    val n = deg.size
    val base = ((15L * scale) / 100) / n
    var ranks: Map[Long, Long] = deg.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to iters) {
      val inc = scala.collection.mutable.Map.empty[Long, Long]
      dir.foreach { case (s, d) =>
        inc(d) = inc.getOrElse(d, 0L) + ranks(s) / deg(s)
      }
      ranks = inc.map { case (v, s) => v -> (base + (85L * s) / 100) }.toMap
    }
    ranks
  }

  /** Merge every disjoint occurrence of (a, b) in one token vector —
    * left-to-right, which equals simultaneous application because the
    * operators exclude a == b (occurrences cannot share a token). */
  private def mergePair(toks: Vector[String], a: String, b: String): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < toks.length) {
      if (i < toks.length - 1 && toks(i) == a && toks(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += toks(i); i += 1 }
    }
    out.result()
  }

  /** Driver replay of TextAnalysis.bpeTrain: each round counts adjacent
    * pairs (x != y) weighted by word frequency, picks max count with
    * (lhs, rhs) ascending lexicographic tie-break, merges every
    * occurrence. Stops when no pair remains — the operator's empty
    * limit(1) collapses every later round to zero rows. */
  private def refBpeTrain(words: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, Long)] = {
    var state: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) => w.split("").filter(_.nonEmpty).toVector -> f }
    val acc = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var dry = false
    while (r <= rounds && !dry) {
      val cnt = scala.collection.mutable.Map.empty[(String, String), Long]
      state.foreach { case (toks, f) =>
        var i = 0
        while (i < toks.length - 1) {
          if (toks(i) != toks(i + 1)) {
            val p = (toks(i), toks(i + 1))
            cnt(p) = cnt.getOrElse(p, 0L) + f
          }
          i += 1
        }
      }
      if (cnt.isEmpty) dry = true
      else {
        val ((a, b), c) = cnt.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
        acc += ((r, a, b, c))
        state = state.map { case (toks, f) => (mergePair(toks, a, b), f) }
      }
      r += 1
    }
    acc.result()
  }

  /** Driver replay of ArrayExprs.bpeCompute for ONE word: repeatedly
    * merge the lowest-RANK pair present until none remains. */
  private def refBpeApply(word: String, merges: Seq[(String, String)]): Vector[String] = {
    val rank = merges.zipWithIndex.map { case (p, i) => p -> i }.toMap
    var toks = word.split("").filter(_.nonEmpty).toVector
    var done = false
    while (!done && toks.length > 1) {
      val present = (0 until toks.length - 1)
        .flatMap(i => rank.get((toks(i), toks(i + 1))))
      if (present.isEmpty) done = true
      else {
        val (a, b) = merges(present.min)
        toks = mergePair(toks, a, b)
      }
    }
    toks
  }

  private def diffMaps[K, V](name: String, got: Map[K, V],
                             want: Map[K, V]): Option[String] = {
    val extra = got.keySet.diff(want.keySet)
    val missing = want.keySet.diff(got.keySet)
    val valueDiff = got.keySet.intersect(want.keySet)
      .filter(k => got(k) != want(k))
    if (extra.isEmpty && missing.isEmpty && valueDiff.isEmpty) None
    else Some(s"$name: extra=${extra.take(3)} (${extra.size}) " +
      s"missing=${missing.take(3)} (${missing.size}) " +
      s"valueDiff=${valueDiff.take(3).map(k => (k, got(k), want(k)))} (${valueDiff.size})")
  }

  private def diffPairs(name: String, got: Pairs, want: Pairs,
                        subsetOnly: Boolean = false): Option[String] = {
    val extra = got.keySet.diff(want.keySet)
    val missing = if (subsetOnly) Set.empty[(Long, Long)]
                  else want.keySet.diff(got.keySet)
    val valueDiff = got.keySet.intersect(want.keySet)
      .filter(k => got(k) != want(k))
    if (extra.isEmpty && missing.isEmpty && valueDiff.isEmpty) None
    else Some(s"$name: extra=${extra.take(3)} (${extra.size}) " +
      s"missing=${missing.take(3)} (${missing.size}) " +
      s"valueDiff=${valueDiff.take(3).map(k => (k, got(k), want(k)))} (${valueDiff.size})")
  }

  /** Driver replay of Spark's multi-batch watermarked stream-stream
    * interval-join emission (the late_data family's oracle). The
    * catalog's s12/s15/s17 horizon oracles certify only the FINAL
    * watermark on an in-order feed; this replays the per-batch
    * machinery the randomized adversary exercises:
    *   - the global watermark before batch n is min over the two
    *     watermark nodes of (max event time seen through batch n-1,
    *     ms-truncated) minus the delay, never regressing, 0 until a
    *     node has seen data;
    *   - input rows with ts < watermark are dropped as late (strict:
    *     Spark's predicate is ts <= w-1 ms);
    *   - matches emit when both rows coexist, regardless of watermark;
    *   - state eviction (and the outer modes' null-extension, exactly
    *     once per never-matched evicted row) runs after each batch's
    *     watermark update, which Spark applies in the trailing no-data
    *     batch: a purchase evicts once w > p_ts (no future signup can
    *     satisfy s_ts <= p_ts), a signup once w > s_ts + I (no future
    *     purchase can satisfy p_ts <= s_ts + I).
    * An evicted-then-late-matched pair is thereby correctly ABSENT from
    * both sides. NULL ids are encoded as -1 for the multiset compare. */
  private def refLateJoin(evs: Seq[(Long, Long, String, Long)],
                          waves: Map[Long, Int], nWaves: Int,
                          delayMs: Long, intMs: Long,
                          mode: String): Seq[(Long, Long)] = {
    final case class St(id: Long, user: Long, ts: Long,
                        var matched: Boolean = false)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val stP = scala.collection.mutable.ArrayBuffer[St]()
    val stS = scala.collection.mutable.ArrayBuffer[St]()
    var maxP = Long.MinValue
    var maxS = Long.MinValue
    var w = 0L
    (0 until nWaves).foreach { wv =>
      val batch = evs.filter(e => waves(e._1) == wv)
      if (batch.nonEmpty) {
        // event-time stats collect BEFORE the join's late filter
        batch.foreach { e =>
          if (e._3 == "purchase") maxP = math.max(maxP, e._4)
          else maxS = math.max(maxS, e._4)
        }
        val newP = batch.collect {
          case (id, u, "purchase", ts) if ts >= w => St(id, u, ts) }
        val newS = batch.collect {
          case (id, u, "signup", ts) if ts >= w => St(id, u, ts) }
        def join(p: St, s: St): Unit =
          if (p.user == s.user && s.ts <= p.ts && s.ts >= p.ts - intMs) {
            out += ((p.id, s.id)); p.matched = true; s.matched = true
          }
        for (p <- newP; s <- stS) join(p, s)
        for (p <- stP; s <- newS) join(p, s)
        for (p <- newP; s <- newS) join(p, s)
        stP ++= newP
        stS ++= newS
        val wNew = math.max(w, math.min(
          if (maxP == Long.MinValue) 0L else maxP - delayMs,
          if (maxS == Long.MinValue) 0L else maxS - delayMs))
        val (pKeep, pGone) = stP.partition(_.ts >= wNew)
        val (sKeep, sGone) = stS.partition(_.ts + intMs >= wNew)
        if (mode == "left_outer" || mode == "full_outer")
          pGone.filterNot(_.matched).foreach(p => out += ((p.id, -1L)))
        if (mode == "right_outer" || mode == "full_outer")
          sGone.filterNot(_.matched).foreach(s => out += ((-1L, s.id)))
        stP.clear(); stP ++= pKeep
        stS.clear(); stS ++= sKeep
        w = wNew
      }
    }
    out.toSeq
  }

  /** Driver replay of append-mode session-window aggregation across
    * randomized batch cuts (the late_data family's sessions oracle).
    * s14's horizon oracle is final-watermark-only; this replays the
    * per-batch rule: input rows whose own session end (ts + gap) falls
    * strictly below the in-force watermark are dropped as late, kept
    * rows merge into per-user open sessions (closed-boundary merge:
    * ts == session end continues the session, matching s14's gap > 1800
    * batch oracle), and after each batch's watermark update every
    * session with end < w emits exactly once and leaves state. A late
    * row that re-opens an already-emitted time range forms a NEW
    * session — replayed, not suppressed. Returns
    * (user, startMs, endMs, nEvents). */
  /** Test hook: the late_data sessions oracle, exposed so the
    * deterministic gap-boundary draw in StreamingSpec can certify its
    * closed-boundary merge against the engine (round-19 ADVICE). */
  private[graft] def refLateSessionsForTest(
      evs: Seq[(Long, Long, Long)], waves: Map[Long, Int], nWaves: Int,
      delayMs: Long, gapMs: Long): Seq[(Long, Long, Long, Long)] =
    refLateSessions(evs, waves, nWaves, delayMs, gapMs)

  private def refLateSessions(evs: Seq[(Long, Long, Long)],
                              waves: Map[Long, Int], nWaves: Int,
                              delayMs: Long, gapMs: Long)
      : Seq[(Long, Long, Long, Long)] = {
    final case class Sess(user: Long, start: Long, var end: Long,
                          var n: Long)
    val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    var open = List.empty[Sess]
    var maxTs = Long.MinValue
    var w = 0L
    (0 until nWaves).foreach { wv =>
      val batch = evs.filter(e => waves(e._1) == wv)
      if (batch.nonEmpty) {
        batch.foreach(e => maxTs = math.max(maxTs, e._3))
        batch.filter(e => e._3 + gapMs >= w).foreach { case (_, u, ts) =>
          // merge [ts, ts+gap] into the user's open set; a bridging
          // event can fuse two existing sessions, so re-merge the lot
          val (hit, miss) = open.partition(s =>
            s.user == u && ts <= s.end && s.start <= ts + gapMs)
          val merged = hit.foldLeft(Sess(u, ts, ts + gapMs, 1L)) {
            (acc, s) => Sess(u, math.min(acc.start, s.start),
              math.max(acc.end, s.end), acc.n + s.n)
          }
          open = merged :: miss
        }
        w = math.max(w, (if (maxTs == Long.MinValue) 0L
                         else maxTs - delayMs))
        val (gone, keep) = open.partition(_.end < w)
        gone.foreach(s => out += ((s.user, s.start, s.end, s.n)))
        open = keep
      }
    }
    out.toSeq
  }

  /** Order-insensitive FULL-ROW multiset compare. Unlike diffMaps nothing
    * is keyed, so (round-18 ADVICE) an operator bug emitting duplicate
    * keys is reported as a size/row mismatch instead of being collapsed
    * to one arbitrary row, and degenerate key ties (scd2 runs sharing
    * valid_from inside a timestamp tie group) are verified, not silently
    * dropped by toMap on both sides. */
  private def diffRows[T](name: String, got: Seq[T], want: Seq[T])
                         (implicit ord: Ordering[T]): Option[String] = {
    val g = got.sorted
    val w = want.sorted
    if (g == w) None
    else Some(s"$name: gotRows=${g.size} wantRows=${w.size} " +
      s"gotOnly=${g.diff(w).take(3)} wantOnly=${w.diff(g).take(3)}")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val n = if (args.length > 1) args(1).toInt else 100
    val seed = if (args.length > 2) args(2).toLong else 1601L
    val outJson = if (args.length > 3) args(3)
      else s"${System.getProperty("java.io.tmpdir")}/OPFUZZ.json"
    val spark = Engine.session()
    import graft.operators.Dedup

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).cache()
    val docCount = docs.count()
    // driver copy for the independent oracles (sf0.001 = 500 docs)
    val local: Seq[(Long, String)] =
      docs.collect().map(r => (r.getLong(0), r.getString(1))).toSeq

    val rnd = new Random(seed)
    val results = scala.collection.mutable.ArrayBuffer[(String, String, Option[String], Long)]()

    // exact all-pairs oracle, cached per (n, theta) draw
    def exactPairs(sn: Int, theta: Double): Pairs = {
      val byId = local.map { case (id, t) => id -> shingles(t, sn) }.toMap
      val ids = local.map(_._1).sorted
      (for {
        i <- ids.indices.iterator
        j <- (i + 1) until ids.size
        a = ids(i); b = ids(j)
        sa = byId(a); sb = byId(b)
        if sa.nonEmpty && sb.nonEmpty
        jv = jac4(sa, sb)
        if jv >= theta
      } yield (a, b) -> jv).toMap
    }

    // an exception inside a draw (e.g. collectPairs' duplicate-pair
    // check) is a violation of that draw, not a fuzzer crash
    val famNames = Seq("prefix_exact", "prefix_hotcap", "lsh_sound",
      "sorted_window", "simhash", "kcore", "hops", "paths", "resample",
      "span_dedup", "pack", "ohlc", "restart_bus", "restart_mf",
      "cc", "triangles", "cdc", "intervals", "bloom", "late_data",
      "media", "asof", "topk", "pagerank", "bpe", "sample")
    // optional single-family focus (calibration/debug): every draw runs
    // this family instead of cycling; per-draw randomness still advances
    val famOnly: Option[Int] = if (args.length > 4) {
      val idx = famNames.indexOf(args(4))
      require(idx >= 0, s"unknown family '${args(4)}'")
      Some(idx)
    } else None

    // shared fixture for restart_mf, built once (deterministic): the
    // mwa04 portable observation's INS cells + the BATCH match-filter
    // flag set they must reproduce after any kill/recovery schedule
    lazy val mfFixture: (DataFrame, graft.mwa.GraftConfig, Int) = {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto, tbAggro = 1.0 / 32)
      val insDf = VisOps.ins(VisOps.diff(
          VisOps.selectSurface(VisGenerator.portable(spark, spec), cfg)))
        .select(col("obsid"), col("time_idx"), col("freq_hz"), col("pol"),
          col("metric").cast("double"), col("nsamples").cast("double"))
        .localCheckpoint(true)
      (insDf, cfg, (spec.nTimes - 1) * spec.nCoarse * spec.nFine)
    }
    lazy val mfBatchFlags: Map[(String, Int, Long), String] = {
      val (insDf, cfg, _) = mfFixture
      graft.mwa.MatchFilter(insDf, cfg).filter(col("flagged"))
        .select(col("pol"), col("time_idx"),
          col("freq_hz").cast("long"), col("event"))
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getString(3))
        .toMap
    }
    // seeded random UNDIRECTED simple graph (a<b, no self-loops);
    // density drawn so k-core/BFS exercise both sparse and dense regimes
    def randGraph(nv: Int, p: Double): Seq[(Long, Long)] =
      for {
        a <- 0L until nv.toLong; b <- (a + 1) until nv.toLong
        if rnd.nextDouble() < p
      } yield (a, b)
    import spark.implicits._
    (1 to n).foreach { i =>
      // round-robin, not uniform draw: every family gets >= n/26 draws
      // across the 26-family roster (the >=20-per-family full-cycle
      // sweep therefore uses n=520)
      val fam = famOnly.getOrElse((i - 1) % famNames.size)
      val sn = 2 + rnd.nextInt(3)                 // shingle n in 2..4
      val theta = 0.25 + rnd.nextInt(14) * 0.05   // 0.25..0.90
      val t0 = System.nanoTime()
      val (family, params, violation): (String, String, Option[String]) = try fam match {
        case 0 =>
          val got = collectPairs(
            Dedup.prefixJaccardPairs(docs, "doc_id", "text", sn, theta))
          val want = exactPairs(sn, theta)
          ("prefix_exact", s"n=$sn theta=$theta",
            diffPairs("prefix_exact", got, want))
        case 1 =>
          val cap = Seq(1, 2, 8)(rnd.nextInt(3))
          val got = collectPairs(
            Dedup.prefixJaccardPairs(docs, "doc_id", "text", sn, theta, cap))
          val want = collectPairs(
            Dedup.prefixJaccardPairs(docs, "doc_id", "text", sn, theta))
          ("prefix_hotcap", s"n=$sn theta=$theta cap=$cap",
            diffPairs("prefix_hotcap", got, want))
        case 2 =>
          val k = Seq(32, 64, 128)(rnd.nextInt(3))
          val bands = Seq(8, 16, 32).filter(k % _ == 0)(rnd.nextInt(3))
          // minhashLsh reports FULL-precision verified jaccard (its
          // catalog consumers re-derive); the brute-force oracle rounds
          // 4dp like the prefix/ngram family — compare mod that rounding
          val got = collectPairs(
            Dedup.minhashLsh(docs, "doc_id", "text", sn, k, bands, theta))
            .map { case (kk, v) => kk -> (math.floor(v * 10000 + 0.5) / 10000) }
          val want = exactPairs(sn, theta)
          val recall = if (want.isEmpty) 1.0 else
            got.keySet.count(want.contains).toDouble / want.size
          ("lsh_sound", f"n=$sn theta=$theta k=$k bands=$bands recall=$recall%.3f",
            diffPairs("lsh_sound", got, want, subsetOnly = true))
        case 3 =>
          val w = 1 + rnd.nextInt(8)
          val got = collectPairs(Dedup.sortedNeighborhoodPairs(
            docs, "doc_id", "text", w, sn, theta))
          // independent oracle: rank by (key, id), pairs within w
          val ranked = local.map { case (id, t) =>
            (normalize(t).take(16), id, shingles(t, sn))
          }.sortBy(x => (x._1, x._2))
          val want: Pairs = (for {
            i2 <- ranked.indices.iterator
            j2 <- (i2 + 1) to math.min(i2 + w, ranked.size - 1)
            (_, ia, sa) = ranked(i2); (_, ib, sb) = ranked(j2)
            if sa.nonEmpty || sb.nonEmpty
            jv = if (sa.isEmpty || sb.isEmpty) 0.0 else jac4(sa, sb)
            if jv >= theta
          } yield (math.min(ia, ib), math.max(ia, ib)) -> jv).toMap
          ("sorted_window", s"w=$w n=$sn theta=$theta",
            diffPairs("sorted_window", got, want))
        case 4 =>
          val maxH = 1 + rnd.nextInt(3)
          val got = collectPairs(
            Dedup.simhashPairs(docs, "doc_id", "text", maxH))
          // brute force over the SAME signatures, independent of the
          // chunk-pigeonhole candidate machinery
          val sigs = docs.select(col("doc_id"),
            graft.functions.TextFns.simhash64(col("text")).as("sig"))
          val want = collectPairs(sigs.as("x").join(sigs.as("y"),
              col("x.doc_id") < col("y.doc_id"))
            .withColumn("h", graft.functions.TextFns.hamming(
              col("x.sig"), col("y.sig")))
            .filter(col("h") <= maxH)
            .select(col("x.doc_id"), col("y.doc_id"), col("h")))
          ("simhash", s"maxH=$maxH", diffPairs("simhash", got, want))
        case 5 =>
          val nv = 20 + rnd.nextInt(41)           // 20..60 vertices
          val p = 0.05 + rnd.nextDouble() * 0.20  // avg degree ~1..12
          val k = 2 + rnd.nextInt(4)              // core k in 2..5
          val edges = randGraph(nv, p)
          val got = graft.operators.Graph
            .kCore(edges.toDF("src", "dst"), k, maxRounds = 1000)
            .collect().map(_.getLong(0)).toSet
          val want = refKCore(edges, k)
          ("kcore", s"nv=$nv e=${edges.size} k=$k",
            diffMaps("kcore", got.map(_ -> 1L).toMap, want.map(_ -> 1L).toMap))
        case 6 =>
          val nv = 20 + rnd.nextInt(41)
          val p = 0.02 + rnd.nextDouble() * 0.10
          val maxHops = 1 + rnd.nextInt(5)        // 1..5
          val directed = rnd.nextBoolean()
          val edges = randGraph(nv, p)
          val seeds = (1 to (1 + rnd.nextInt(3)))
            .map(_ => rnd.nextInt(nv).toLong).toSet
          val got = graft.operators.Graph
            .shortestHops(edges.toDF("src", "dst"),
              seeds.toSeq.toDF("id"), maxHops, directed)
            .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
          val want = refHops(edges, seeds, maxHops, directed)
          ("hops", s"nv=$nv e=${edges.size} hops=$maxHops dir=$directed seeds=${seeds.size}",
            diffMaps("hops", got, want))
        case 7 =>
          val nv = 15 + rnd.nextInt(31)
          val p = 0.03 + rnd.nextDouble() * 0.12
          val rounds = 1 + rnd.nextInt(4)         // 1..4 relaxations
          val directed = rnd.nextBoolean()
          val edges = randGraph(nv, p)
            .map { case (a, b) => (a, b, rnd.nextInt(10).toLong) }
          val seeds = (1 to (1 + rnd.nextInt(2)))
            .map(_ => rnd.nextInt(nv).toLong).toSet
          val got = graft.operators.Graph
            .boundedShortestPaths(edges.toDF("src", "dst", "w"),
              seeds.toSeq.toDF("id"), rounds, directed)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val want = refPaths(edges, seeds, rounds, directed)
          ("paths", s"nv=$nv e=${edges.size} rounds=$rounds dir=$directed",
            diffMaps("paths", got, want))
        case 8 =>
          // grid resample family: LOCF / exact-integer lerp / nearest,
          // vs brute bracketing. Tie regime: ~25% of events reuse the
          // previous timestamp (the dedupFirst contract under patrol).
          val mode = rnd.nextInt(3)
          val stepHours = 1 + rnd.nextInt(6)
          val nk = 1 + rnd.nextInt(3)
          val baseUs = 1767225600L * 1000000L     // 2026-01-01T00Z
          var eid = 0L
          val evs = (0 until nk).flatMap { k =>
            var lastTs = baseUs
            (0 until (3 + rnd.nextInt(8))).map { _ =>
              val ts = if (eid > 0 && rnd.nextDouble() < 0.25) lastTs
                       else baseUs + rnd.nextInt(72 * 3600).toLong * 1000000L
              lastTs = ts
              eid += 1
              (k.toLong, ts, rnd.nextInt(20000) / 100.0, eid)
            }
          }
          val df = evs.map { case (k, us, v, id) =>
            (k, new java.sql.Timestamp(us / 1000L), v, id)
          }.toDF("k", "ts", "v", "eid")
          import graft.operators.RelationalOps
          val (wantL, wantI, wantN) = refResample(evs, stepHours)
          def tsUs(r: Row, idx: Int): Long = r.getTimestamp(idx).getTime * 1000L
          val (got, want, label) = mode match {
            case 0 =>
              (RelationalOps.resampleLocf(df, "k", "ts", "v", stepHours, "eid")
                .collect().map(r => (r.getLong(0), tsUs(r, 1)) ->
                  (if (r.isNullAt(2)) None else Some(math.round(r.getDouble(2) * 100)))).toMap,
               wantL, "locf")
            case 1 =>
              (RelationalOps.resampleLerp(df, "k", "ts", "v", stepHours, "eid")
                .collect().map(r => (r.getLong(0), tsUs(r, 1)) ->
                  (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap,
               wantI, "lerp")
            case _ =>
              (RelationalOps.resampleNearest(df, "k", "ts", "v", stepHours, "eid")
                .collect().map(r => (r.getLong(0), tsUs(r, 1)) ->
                  (if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap,
               wantN, "nearest")
          }
          ("resample", s"mode=$label step=${stepHours}h keys=$nk ev=${evs.size}",
            diffMaps(s"resample_$label", got, want))
        case 9 =>
          // span-level exact-substring dedup (d20's operator) vs the
          // driver-side excision replay, at window sizes the fixed
          // catalog never varies
          val sdn = 2 + rnd.nextInt(5)            // window n in 2..6
          val got = Dedup.spanDedup(docs, sdn, "doc_id", "text")
            .collect().map(r => r.getLong(0) ->
              ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
          val want = refSpanDedup(local, sdn)
          ("span_dedup", s"n=$sdn", diffMaps("span_dedup", got, want))
        case 10 =>
          // sharded sequence packing (t12's operator): seq_id/seq_offset
          // for every doc vs the driver prefix-sum replay
          val budget = 64 + rnd.nextInt(4000)
          val shards = 1 + rnd.nextInt(8)
          val toks = local.map { case (id, t) =>
            id -> t.split("\\s+").count(_.nonEmpty).toLong }
          val packed = graft.operators.Sampling.packSequences(
            docs.withColumn("__tok",
              size(graft.functions.TextFns.words(col("text"))).cast("long")),
            col("doc_id"), col("__tok"), budget, shards)
          val got = packed.select("doc_id", "seq_id", "seq_offset")
            .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
          val want = refPack(toks, budget, shards)
          ("pack", s"budget=$budget shards=$shards", diffMaps("pack", got, want))
        case 11 =>
          // OHLC downsampling vs the driver fold; ~25% timestamp ties
          // within key exercise the (ts, tieBreak) total order
          val (unit, unitUs) = Seq(("minute", 60000000L),
            ("hour", 3600000000L), ("day", 86400000000L))(rnd.nextInt(3))
          val baseUs = 1767225600L * 1000000L     // 2026-01-01T00Z
          var eid = 0L
          val evs = (0 until (1 + rnd.nextInt(3))).flatMap { k =>
            var lastTs = baseUs
            (0 until (4 + rnd.nextInt(12))).map { _ =>
              val ts = if (eid > 0 && rnd.nextDouble() < 0.25) lastTs
                       else baseUs + rnd.nextInt(72 * 3600).toLong * 1000000L
              lastTs = ts
              eid += 1
              (k.toLong, ts, rnd.nextInt(20000) / 100.0, eid)
            }
          }
          val df = evs.map { case (k, us, v, id) =>
            (k, new java.sql.Timestamp(us / 1000L), v, id)
          }.toDF("k", "ts", "v", "eid")
          val got = graft.operators.RelationalOps
            .ohlcDownsample(df, "k", "ts", "v", unit, "eid")
            .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime * 1000L) ->
              ((r.getDouble(2), r.getDouble(3), r.getDouble(4),
                r.getDouble(5), r.getLong(6)))).toMap
          val want = refOhlc(evs, unitUs)
          ("ohlc", s"unit=$unit ev=${evs.size}", diffMaps("ohlc", got, want))
        case 12 =>
          // bus-connector exactly-once under a randomized kill schedule
          val nParts = 1 + rnd.nextInt(3)
          val nWaves = 2 + rnd.nextInt(3) // 1..3 mid-log restarts
          val nRec = 200 + rnd.nextInt(600)
          val noopRestart = rnd.nextDouble() < 0.3
          // ~10% planted duplicate payloads: the multiset compare must
          // distinguish exactly-once from at-least-once-with-dedup
          val recs: Seq[(Long, Long, String, Int)] = (0 until nRec).map { j =>
            val dup = j > 0 && rnd.nextDouble() < 0.10
            val body = if (dup) s"payload-${rnd.nextInt(j)}" else s"payload-$j"
            (j.toLong, rnd.nextInt(1000).toLong, body, rnd.nextInt(nWaves))
          }
          val base = java.nio.file.Files.createTempDirectory("graft_opfuzz_bus_")
          val (root, ck, sink) = (s"$base/log", s"$base/ck", s"$base/sink")
          try {
            def runOnce(hasNewData: Boolean): Unit = {
              val q = spark.readStream.format("graft-bus")
                .option("path", root).load()
                .select(col("value").cast("string").as("v"))
                .writeStream.format("parquet")
                .option("path", sink).option("checkpointLocation", ck)
                .outputMode("append").start()
              try { q.processAllAvailable()
                // a run over an empty wave (or before any segment exists)
                // is a deliberate NO-OP restart: nothing to drain
                if (hasNewData)
                  graft.streaming.EventStreams.assertDrained(q, "opfuzz_bus")
              } finally q.stop()
            }
            (0 until nWaves).foreach { w =>
              val waveRecs = recs.filter(_._4 == w)
              if (waveRecs.nonEmpty)
                graft.sources.Bus.produce(
                  waveRecs.map(t => (t._1, t._2, t._3)).toDF("id", "k", "v"),
                  root, "fuzz", nParts, col("k"), col("v"), col("id"))
              runOnce(waveRecs.nonEmpty)
            }
            if (noopRestart) runOnce(hasNewData = false)
            val got = spark.read.parquet(sink)
              .collect().map(_.getString(0)).sorted.toSeq
            val want = recs.map(_._3).sorted
            val v = if (got == want) None else Some(
              s"restart_bus: sink multiset diverged (got ${got.size} " +
                s"rows, want ${want.size}; first diff at index " +
                s"${got.zip(want).indexWhere { case (a, b) => a != b }})")
            ("restart_bus",
              s"parts=$nParts waves=$nWaves rec=$nRec noop=$noopRestart", v)
          } finally
            org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        case 13 =>
          // stateful match filter killed at random observation cut points
          val (insDf, cfg, expected) = mfFixture
          // diffed time_idx spans 0..15; cuts < 15 keep every pre-final
          // wave incomplete, so the kill always lands mid-observation
          val nCuts = 1 + rnd.nextInt(2)
          val cuts = rnd.shuffle((1 to 14).toList).take(nCuts).sorted
          val bounds = (-1 +: cuts) :+ 15 // wave i = time_idx in (lo, hi]
          val base = java.nio.file.Files.createTempDirectory("graft_opfuzz_mf_")
          val (src, ck, sink) = (s"$base/src", s"$base/ck", s"$base/sink")
          val conf = "spark.sql.streaming.stateStore.providerClass"
          val prev = spark.conf.getOption(conf)
          spark.conf.set(conf, "org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")
          try {
            import graft.mwa.MatchFilter
            def runOnce(): Unit = {
              val cells = spark.readStream.schema(insDf.schema)
                .option("maxFilesPerTrigger", 1).parquet(src)
                .as[MatchFilter.InsCell]
              val q = graft.streaming.StatefulOps
                .matchFilterStream(cells, cfg, expected).toDF()
                .writeStream.format("parquet")
                .option("path", sink).option("checkpointLocation", ck)
                .outputMode("append").start()
              try { q.processAllAvailable()
                graft.streaming.EventStreams.assertDrained(q, "opfuzz_mf")
              } finally q.stop()
            }
            bounds.sliding(2).zipWithIndex.foreach { case (b, w) =>
              val (lo, hi) = (b.head, b.last)
              val mode = if (w == 0) "overwrite" else "append"
              insDf.filter(col("time_idx") > lo && col("time_idx") <= hi)
                .repartition(2).write.mode(mode).parquet(src)
              runOnce()
              // every cut is < 15, so the observation is incomplete until
              // the LAST wave: earlier emission means the kill points
              // never exercised recovery — that's a draw violation
              if (hi < 15) require(spark.read.parquet(sink).isEmpty,
                s"restart_mf: emitted before the final wave (cut $hi)")
            }
            val got = spark.read.parquet(sink).filter(col("flagged"))
              .select(col("pol"), col("time_idx"),
                col("freq_hz").cast("long"), col("event"))
              .collect()
              .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getString(3))
              .toMap
            ("restart_mf", s"cuts=${cuts.mkString("/")}",
              diffMaps("restart_mf", got, mfBatchFlags))
          } finally {
            prev match {
              case Some(p) => spark.conf.set(conf, p)
              case None => spark.conf.unset(conf)
            }
            org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
          }
        case 14 =>
          // connected components: BOTH distributed variants (min-label
          // propagation / star alternation) vs sequential union-find
          val nv = 20 + rnd.nextInt(41)
          val p = 0.02 + rnd.nextDouble() * 0.15
          val edges = randGraph(nv, p)
          val pairs = edges.toDF("id_a", "id_b")
          val star = rnd.nextBoolean()
          val opDf = if (star) Dedup.connectedComponentsStar(pairs)
                     else Dedup.duplicateClusters(pairs)
          val got = opDf.collect()
            .map(r => r.getLong(0) -> r.getLong(1)).toMap
          val want = refComponents(edges)
          ("cc", s"nv=$nv e=${edges.size} variant=${if (star) "star" else "minlabel"}",
            diffMaps("cc", got, want))
        case 15 =>
          // per-vertex triangle counts vs direct triple enumeration
          val nv = 15 + rnd.nextInt(31)           // 15..45 vertices
          val p = 0.05 + rnd.nextDouble() * 0.25
          val edges = randGraph(nv, p)
          val got = graft.operators.Graph
            .triangleCounts(edges.toDF("id_a", "id_b"))
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val want = refTriangles(edges)
          ("triangles", s"nv=$nv e=${edges.size}",
            diffMaps("triangles", got, want))
        case 16 =>
          // CDC apply: fold 1-3 random change batches into a random
          // target through mergeUpsert (source-wins) / mergeLatest
          // (order-wins) / scd2 (run compression), vs a driver fold.
          // ~20% NULL values in the upsert/latest batches: the
          // null-overwrite contract (an UPDATE TO NULL must not revert
          // to the stale target value) is part of every draw.
          import graft.operators.RelationalOps
          val mode = rnd.nextInt(3)
          val nKeys = 3 + rnd.nextInt(10)
          var seq = 0L
          def batch(sz: Int): Seq[(Long, Option[String], Long)] =
            (0 until sz).map { _ =>
              seq += 1
              (rnd.nextInt(nKeys).toLong,
                if (rnd.nextDouble() < 0.2) None
                else Some(s"v${rnd.nextInt(6)}"), seq)
            }
          if (mode < 2) {
            val tgt = batch(2 + rnd.nextInt(12))
            val srcs = (0 until (1 + rnd.nextInt(3)))
              .map(_ => batch(1 + rnd.nextInt(12)))
            val ord = Seq(col("seq").desc)
            def df(b: Seq[(Long, Option[String], Long)]) =
              b.toDF("k", "v", "seq")
            // per-batch winner = max seq (seq is globally unique)
            def win(b: Seq[(Long, Option[String], Long)]) =
              b.groupBy(_._1).map { case (k, rs) => k -> rs.maxBy(_._3) }
            val (gotDf, want) = if (mode == 0) {
              val g = srcs.foldLeft(df(tgt))((acc, b) =>
                RelationalOps.mergeUpsert(acc, df(b), "k", ord))
              // source wins per fold step: later batch keys override
              val w = srcs.foldLeft(win(tgt))((st, b) => st ++ win(b))
              (g, w)
            } else {
              val g = srcs.foldLeft(df(tgt))((acc, b) =>
                RelationalOps.mergeLatest(acc, df(b), "k", ord))
              // order wins regardless of batch: global max seq per key
              (g, win(tgt ++ srcs.flatten))
            }
            // full-row multisets: a fanout bug duplicating a key must
            // surface as extra rows, not vanish into a map collapse
            val got = gotDf.collect().map(r =>
              (r.getLong(0), Option(r.getString(1)), r.getLong(2))).toSeq
            val wantRows = want.values.map { case (kk, v, s) =>
              (kk, v, s) }.toSeq
            ("cdc", s"mode=${if (mode == 0) "upsert" else "latest"} " +
              s"keys=$nKeys batches=${srcs.size}",
              diffRows("cdc", got, wantRows))
          } else {
            // scd2: non-null values (change detection is =!= based),
            // ~30% duplicate timestamps within key patrol the tieBreak
            val evs = (0 until (6 + rnd.nextInt(20))).map { _ =>
              seq += 1
              (rnd.nextInt(nKeys).toLong,
                (rnd.nextInt(8) * 10).toLong + // coarse ts grid -> ties
                  (if (rnd.nextDouble() < 0.3) 0L else rnd.nextInt(10).toLong),
                s"v${rnd.nextInt(4)}", seq)
            }
            // full-row multisets, NOT toMap keyed by (k, valid_from): a
            // value change inside a planted timestamp tie group yields
            // consecutive runs SHARING valid_from, and toMap dropped the
            // degenerate run on both sides — never verified, and the
            // surviving got row depended on collect() order
            val got = RelationalOps
              .scd2(evs.toDF("k", "ts", "v", "tie"), "k", "ts", "v", "tie")
              .collect().map(r => (r.getLong(0), r.getLong(2),
                r.getString(1), Option(r.get(3)).map(_.toString.toLong)))
              .toSeq
            val want = evs.groupBy(_._1).flatMap { case (k, rs) =>
              val sorted = rs.sortBy(e => (e._2, e._4))
              val runs = sorted.foldLeft(List.empty[(String, Long)]) {
                case (acc, (_, ts, v, _)) =>
                  if (acc.nonEmpty && acc.head._1 == v) acc
                  else (v, ts) :: acc
              }.reverse
              runs.zipAll(runs.drop(1).map(r => Some(r._2)), null, None)
                .collect { case ((v, from), to) if v != null =>
                  (k, from, v, to) }
            }.toSeq
            ("cdc", s"mode=scd2 keys=$nKeys ev=${evs.size}",
              diffRows("cdc_scd2", got, want))
          }
        case 17 =>
          // interval coalescing vs a driver sweep line: touching spans
          // (start == running max end) must merge; planted swallowed
          // intervals (an early long span covering later short ones)
          // patrol the running-max-not-lag distinction
          import graft.operators.RelationalOps
          val nKeys = 2 + rnd.nextInt(5)
          val ivs = (0 until (5 + rnd.nextInt(25))).flatMap { _ =>
            val k = rnd.nextInt(nKeys).toLong
            val s = rnd.nextInt(100).toLong
            val e = s + rnd.nextInt(12).toLong
            val swallow = if (rnd.nextDouble() < 0.15)
              Seq((k, s, s + 40L)) else Nil   // long cover interval
            val touch = if (rnd.nextDouble() < 0.2)
              Seq((k, e, e + rnd.nextInt(6).toLong)) else Nil
            Seq((k, s, e)) ++ swallow ++ touch
          }
          // full-row multisets: a bug emitting two spans with the same
          // (k, start) must be reported, not collapsed by toMap
          val got = RelationalOps
            .mergeIntervals(ivs.toDF("k", "s", "e"), "k", "s", "e")
            .collect().map(r => (r.getLong(0), r.getLong(1),
              r.getLong(2), r.getLong(3))).toSeq
          val want = ivs.groupBy(_._1).flatMap { case (k, rs) =>
            val sorted = rs.sortBy(iv => (iv._2, iv._3))
            // spans: (start, maxEnd, count)
            val spans = sorted.foldLeft(List.empty[(Long, Long, Long)]) {
              case (acc, (_, s, e)) => acc match {
                case (ss, se, n) :: tail if s <= se =>
                  (ss, math.max(se, e), n + 1) :: tail
                case _ => (s, e, 1L) :: acc
              }
            }.reverse
            spans.map { case (ss, se, n) => (k, ss, se, n) }
          }.toSeq
          ("intervals", s"keys=$nKeys iv=${ivs.size}",
            diffRows("intervals", got, want))
        case 18 =>
          // bloom prefilter vs an exact driver replay of the portable
          // 60-bit md5 membership — INCLUDING which collisions pass.
          // Tiny mBits values force heavy collision regimes the fixed
          // catalog row (q65, mBits=8192) never reaches; the
          // no-false-negative contract is implied by exact replay.
          val mBits = Seq(64, 128, 192, 320, 512, 1024)(rnd.nextInt(6))
          val k = 1 + rnd.nextInt(5)
          def h60(s: String): Long = {
            val d = java.security.MessageDigest.getInstance("MD5")
              .digest(s.getBytes("UTF-8"))
            java.lang.Long.parseLong(
              d.map("%02x".format(_)).mkString.take(15), 16)
          }
          val bks = (0 until (5 + rnd.nextInt(36)))
            .map(_ => (rnd.nextInt(2000) - 500).toLong).distinct
          val pks = (0 until (20 + rnd.nextInt(180)))
            .map(i => (i.toLong, (rnd.nextInt(4000) - 1000).toLong))
          val got = graft.operators.Layout.bloomPrefilter(
              pks.toDF("pid", "pk"), col("pk"),
              bks.toDF("bk"), col("bk"), mBits, k)
            .select("pid").collect().map(_.getLong(0) -> 1L).toMap
          val bits: Set[Long] =
            bks.flatMap(b => (0 until k).map(j => h60(s"$b#$j") % mBits)).toSet
          val want = pks.filter { case (_, p) =>
            (0 until k).forall(j => bits(h60(s"$p#$j") % mBits))
          }.map(_._1 -> 1L).toMap
          val members = pks.count { case (_, p) => bks.contains(p) }
          ("bloom", s"mBits=$mBits k=$k build=${bks.size} " +
            s"probe=${pks.size} members=$members pass=${want.size}",
            diffMaps("bloom", got, want))
        case 19 =>
          // watermark/late-data emission under a RANDOMIZED adversary
          // (round-18 verdict task 5): event-time disorder, watermark
          // delay, and batch cut points are all drawn, and the emission
          // horizon is replayed per batch by refLateJoin/refLateSessions
          // — where s12/s14/s15/s17 certify fixed lateness profiles at
          // the final watermark only. Batch cuts are real: each wave is
          // one parquet file fed through a checkpointed RESTART of the
          // query, so the watermark in force during wave n is the
          // checkpointed one from wave n-1, exactly as in a continuous
          // multi-batch run.
          val op = rnd.nextInt(5) // 4 join modes + append sessions
          val delaySec = (1 + rnd.nextInt(30)) * 60L        // 1..30 min
          val intSec = (5 + rnd.nextInt(116)) * 60L         // 5m..2h
          val gapSec = (2 + rnd.nextInt(45)) * 60L          // 2..46 min
          val nWaves = 2 + rnd.nextInt(4)                   // 2..5 batches
          val nUsers = 1 + rnd.nextInt(4)
          val nEv = 15 + rnd.nextInt(50)
          val spanSec = (intSec + delaySec) * (2 + rnd.nextInt(3))
          val baseSec = 1700000000L
          val evs: Seq[(Long, Long, String, Long)] = (0 until nEv).map { i =>
            (i.toLong, rnd.nextInt(nUsers).toLong,
              if (rnd.nextBoolean()) "purchase" else "signup",
              (baseSec + (rnd.nextDouble() * spanSec).toLong) * 1000L)
          }
          // waves follow ts order, but ~30% of events land 1-2 waves
          // LATER than their position: genuinely late vs the watermark
          // the in-order majority advances
          val perWave = math.max(1, nEv / nWaves)
          val waves: Map[Long, Int] = evs.sortBy(e => (e._4, e._1))
            .zipWithIndex.map { case (e, idx) =>
              val w0 = math.min(idx / perWave, nWaves - 1)
              e._1 -> (if (rnd.nextDouble() < 0.3)
                math.min(w0 + 1 + rnd.nextInt(2), nWaves - 1) else w0)
            }.toMap
          val base = java.nio.file.Files.createTempDirectory("graft_opfuzz_late_")
          val (src, ck, sink) = (s"$base/src", s"$base/ck", s"$base/sink")
          try {
            val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
              "event_id BIGINT, user_id BIGINT, event_type STRING, ts TIMESTAMP")
            def streamed(): DataFrame = {
              val ev = spark.readStream.schema(evSchema).parquet(src)
              if (op == 4)
                ev.withWatermark("ts", s"$delaySec seconds")
                  .groupBy(session_window(col("ts"), s"$gapSec seconds")
                    .as("sess"), col("user_id"))
                  .agg(count(lit(1)).as("n"))
                  .select(col("user_id"), col("sess.start").as("s_start"),
                    col("sess.end").as("s_end"), col("n"))
              else {
                val mode = Seq("inner", "left_outer", "right_outer",
                  "full_outer")(op)
                val p = ev.filter(col("event_type") === "purchase")
                  .select(col("event_id").as("purchase_id"),
                    col("user_id").as("p_user"), col("ts").as("p_ts"))
                  .withWatermark("p_ts", s"$delaySec seconds")
                val s2 = ev.filter(col("event_type") === "signup")
                  .select(col("event_id").as("signup_id"),
                    col("user_id").as("s_user"), col("ts").as("s_ts"))
                  .withWatermark("s_ts", s"$delaySec seconds")
                p.join(s2, col("p_user") === col("s_user") &&
                    col("s_ts") <= col("p_ts") &&
                    col("s_ts") >= col("p_ts") -
                      expr(s"INTERVAL $intSec SECONDS"), mode)
                  .select("purchase_id", "signup_id")
              }
            }
            def runOnce(hasNew: Boolean): Unit = {
              val q = streamed().writeStream.format("parquet")
                .option("path", sink).option("checkpointLocation", ck)
                .outputMode("append").start()
              try { q.processAllAvailable()
                if (hasNew)
                  graft.streaming.EventStreams.assertDrained(q, "opfuzz_late")
              } finally q.stop()
            }
            (0 until nWaves).foreach { wv =>
              val rows = evs.filter(e => waves(e._1) == wv)
              if (rows.nonEmpty)
                rows.map { case (id, u, t, ms) =>
                  (id, u, t, new java.sql.Timestamp(ms)) }
                  .toDF("event_id", "user_id", "event_type", "ts")
                  .coalesce(1).write.mode("append").parquet(src)
              if (new java.io.File(src).exists) runOnce(rows.nonEmpty)
            }
            val opName = Seq("inner", "left_outer", "right_outer",
              "full_outer", "sessions")(op)
            val params = s"op=$opName delay=${delaySec}s int=${intSec}s " +
              s"gap=${gapSec}s waves=$nWaves ev=$nEv"
            // explicit read schema: a sink that never emitted holds only
            // _spark_metadata and would fail schema inference
            if (op == 4) {
              val got =
                if (!new java.io.File(sink).exists) Seq.empty
                else spark.read.schema(org.apache.spark.sql.types.StructType
                    .fromDDL("user_id BIGINT, s_start TIMESTAMP, " +
                      "s_end TIMESTAMP, n BIGINT"))
                  .parquet(sink).collect().map(r =>
                    (r.getLong(0), r.getTimestamp(1).getTime,
                      r.getTimestamp(2).getTime, r.getLong(3))).toSeq
              val want = refLateSessions(
                evs.map(e => (e._1, e._2, e._4)), waves, nWaves,
                delaySec * 1000L, gapSec * 1000L)
              ("late_data", params, diffRows("late_sessions", got, want))
            } else {
              val got =
                if (!new java.io.File(sink).exists) Seq.empty
                else spark.read.schema(org.apache.spark.sql.types.StructType
                    .fromDDL("purchase_id BIGINT, signup_id BIGINT"))
                  .parquet(sink).collect().map(r =>
                    (if (r.isNullAt(0)) -1L else r.getLong(0),
                      if (r.isNullAt(1)) -1L else r.getLong(1))).toSeq
              val want = refLateJoin(evs, waves, nWaves, delaySec * 1000L,
                intSec * 1000L, Seq("inner", "left_outer", "right_outer",
                  "full_outer")(op))
              ("late_data", params, diffRows("late_join", got, want))
            }
          } finally
            org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        case 20 =>
          // media family (round-19 verdict task 6): randomized payload
          // sizes (incl. 0/1/63/64/65-byte codec edges), frame counts and
          // strides, and perceptual near-dup pairs PLANTED exactly at the
          // pigeonhole boundary (hamming == maxHamming must be found,
          // maxHamming+1 must not), all vs driver-side replays — the
          // dup-pair replay is brute-force all-pairs, so it adjudicates
          // the chunked equi-join's completeness claim, not just the
          // planted rows.
          import graft.multimodal.Multimodal
          import graft.multimodal.Multimodal.{MediaMeta, MediaRow}
          val nm = 40 + rnd.nextInt(60)
          val maxHam = 1 + rnd.nextInt(9)        // 1..9 -> 2..10 chunks
          val stride = 1 + rnd.nextInt(3)
          val dim = Seq(4, 8, 16)(rnd.nextInt(3))
          val mods = Seq("image", "audio", "video")
          def meta(m: String, frames: Int) = MediaMeta(
            if (m == "image") "png" else "raw", 8 + rnd.nextInt(56), 8,
            if (m == "audio") 16000 else 0, frames)
          // random rows: lengths hit every codec edge the kernels branch
          // on (empty payload, single byte, one-below/at/above the 64-byte
          // aHash tile, and long tails)
          val lens = Seq(0, 1, 5, 63, 64, 65)
          val randomRows = (0 until nm).map { id =>
            val len = if (rnd.nextDouble() < 0.4) lens(rnd.nextInt(lens.size))
                      else 64 + rnd.nextInt(192)
            val bytes = Array.fill(len)((rnd.nextInt(256) - 128).toByte)
            val m = mods(rnd.nextInt(3))
            MediaRow(id.toLong, m, bytes,
              meta(m, if (m == "video") rnd.nextInt(9) else 1))
          }
          // planted triple: 0/255 payloads keep the aHash bit-controlled
          // (bit j set iff byte j is 255, valid while 1 <= #high <= 63),
          // so flipping exactly d byte positions moves the hash exactly d
          // bits. base->dupA at maxHam (boundary hit), base->dupB at
          // maxHam+1 (boundary miss).
          val highPos = rnd.shuffle((0 until 64).toList).take(32).toSet
          def bytesOf(high: Set[Int]): Array[Byte] =
            Array.tabulate(64)(j => if (high(j)) 255.toByte else 0.toByte)
          def flip(high: Set[Int], k: Int): Set[Int] = {
            val order = rnd.shuffle((0 until 64).toList).take(k)
            order.foldLeft(high)((h, p) => if (h(p)) h - p else h + p)
          }
          val dupAHigh = flip(highPos, maxHam)
          val dupBHigh = flip(highPos, maxHam + 1)
          val baseId = nm.toLong
          val planted = Seq(
            MediaRow(baseId, "image", bytesOf(highPos), meta("image", 1)),
            MediaRow(baseId + 1, "image", bytesOf(dupAHigh), meta("image", 1)),
            MediaRow(baseId + 2, "image", bytesOf(dupBHigh), meta("image", 1)))
          val rows = randomRows ++ planted
          val media = spark.createDataset(rows)
          val params = s"n=${rows.size} maxHam=$maxHam stride=$stride dim=$dim"

          // replay 1: brute-force all-pairs perceptual dups (independent
          // loop; 64*px(j) > sum is the spec's strict-mean bit rule)
          def ahashLocal(bytes: Array[Byte]): Long = {
            val px = bytes.take(64).map(_ & 0xFF)
            val s = px.sum
            px.indices.foldLeft(0L)((h, j) =>
              if (64L * px(j) > s) h | (1L << j) else h)
          }
          val localHash = rows.map(r => r.media_id -> ahashLocal(r.bytes))
          val wantPairs = (for {
            i <- localHash.indices; j <- (i + 1) until localHash.size
            (ia, ha) = localHash(i); (ib, hb) = localHash(j)
            hd = java.lang.Long.bitCount(ha ^ hb)
            if hd <= maxHam
          } yield (math.min(ia, ib), math.max(ia, ib), hd.toLong)).toSeq
          val gotPairs = Multimodal.perceptualDupPairs(media, maxHam)
            .selectExpr("id_a", "id_b", "CAST(hamming AS BIGINT) AS hamming")
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
            .toSeq
          val vDup = diffRows("media_dups", gotPairs, wantPairs)
          // the boundary plants, asserted explicitly so a failure names
          // the pigeonhole edge rather than a generic multiset diff
          val vPlant =
            if (!gotPairs.contains((baseId, baseId + 1, maxHam.toLong)))
              Some(s"planted pair at hamming=$maxHam MISSING")
            else if (gotPairs.exists(p =>
                p._1 == baseId && p._2 == baseId + 2))
              Some(s"planted pair at hamming=${maxHam + 1} PRESENT")
            else None

          // replay 2: feature extraction (inline re-derivation of the
          // portable stub formula)
          val wantFeat = rows.map { r =>
            val s = r.bytes.foldLeft(0L)((a, b) => a + (b & 0xFF))
            val k = s + r.media_id * 997L
            val f = (0 until dim).map(i =>
              (((k * (2 * i + 3) + (k / 1000L) * (7 * i + 1)) % 1000L)
                .toDouble / 1000.0).toFloat)
            (r.media_id, r.modality, f.mkString(","))
          }
          val gotFeat = Multimodal.extractFeatures(media, dim).collect()
            .map(f => (f.media_id, f.modality, f.feature.mkString(",")))
            .toSeq
          val vFeat = diffRows("media_features", gotFeat, wantFeat)

          // replay 3: frame sampling (stride + modulo slice edges, incl.
          // empty payloads and n_frames=0)
          val wantFrames = rows.filter(_.modality == "video").flatMap { r =>
            (0 until r.meta.n_frames by stride).map { i =>
              val st = (i * 16) % math.max(r.bytes.length, 1)
              val sl = r.bytes.slice(st, math.min(st + 16, r.bytes.length))
              (r.media_id, i, sl.map("%02x".format(_)).mkString)
            }
          }
          val gotFrames = Multimodal.sampleFrames(media, stride).collect()
            .map(f => (f.media_id, f.frame_idx,
              f.frame_bytes.map("%02x".format(_)).mkString)).toSeq
          val vFrames = diffRows("media_frames", gotFrames, wantFrames)

          // replay 4: metadata-only stats
          val wantStats = rows.groupBy(_.modality).map { case (m, rs) =>
            (m, rs.size.toLong, rs.map(_.bytes.length.toLong).sum,
              rs.map(_.meta.width).max, rs.map(_.meta.n_frames.toLong).sum)
          }.toSeq
          val gotStats = Multimodal.modalityStats(media).collect()
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
              r.getInt(3), r.getLong(4))).toSeq
          val vStats = diffRows("media_stats", gotStats, wantStats)

          ("media", params,
            vDup.orElse(vPlant).orElse(vFeat).orElse(vFrames).orElse(vStats))
        case 21 =>
          // raw as-of join (J9) vs the driver bracket scan: planted
          // left==right timestamp ties (~25%), a key with NO right rows,
          // and NULLs inside the carried value columns — patrolling the
          // row-consistency contract (both carried values come from ONE
          // right row; a NULL in the matched row stays NULL)
          val baseUs = 1767225600L * 1000000L     // 2026-01-01T00Z
          val nk = 1 + rnd.nextInt(4)
          val rights = (0 until nk).flatMap { k =>
            val seen = scala.collection.mutable.Set.empty[Long]
            (0 until rnd.nextInt(8)).flatMap { _ =>
              val rts = baseUs + rnd.nextInt(72 * 3600).toLong * 1000000L
              if (seen.add(rts)) {
                def v() = if (rnd.nextDouble() < 0.3) None
                          else Some(rnd.nextInt(1000).toLong)
                Some((k.toLong, rts, v(), v()))
              } else None
            }
          }
          var lid = 0L
          val lefts = (0 to nk).flatMap { k =>    // key nk has no right rows
            (0 until (1 + rnd.nextInt(6))).map { _ =>
              val lts = if (rights.nonEmpty && rnd.nextDouble() < 0.25)
                rights(rnd.nextInt(rights.size))._2   // exact-tie boundary
              else baseUs + rnd.nextInt(72 * 3600).toLong * 1000000L
              lid += 1
              (lid, k.toLong, lts)
            }
          }
          val lDf = lefts.map { case (id, k, us) =>
            (id, k, new java.sql.Timestamp(us / 1000L)) }.toDF("lid", "k", "ts")
          val rDf = rights.map { case (k, us, v1, v2) =>
            (k, new java.sql.Timestamp(us / 1000L), v1, v2) }.toDF("k", "ts", "v1", "v2")
          // direction + tolerance drawn per run (r20 second wave): the
          // tolerance domain straddles typical gaps so both void and keep
          // outcomes occur; nearest draws exercise the equal-distance ->
          // backward tie (left ts planted ON right ts makes distance 0)
          val dirN = Seq("backward", "forward", "nearest")(rnd.nextInt(3))
          val tolN = if (rnd.nextBoolean()) None
                     else Some((1L + rnd.nextInt(48)) * 3600L) // 1..48h
          val got = graft.operators.RelationalOps
            .asOfJoin(lDf, rDf, "k", "ts", "ts", Seq("v1" -> "a", "v2" -> "b"),
              direction = dirN, toleranceSeconds = tolN)
            .select("lid", "a", "b").collect().map { r =>
              r.getLong(0) -> ((if (r.isNullAt(1)) None else Some(r.getLong(1)),
                if (r.isNullAt(2)) None else Some(r.getLong(2))))
            }.toMap
          val want = refAsOf(lefts, rights, dirN, tolN.map(_ * 1000000L))
          ("asof", s"keys=$nk l=${lefts.size} r=${rights.size} dir=$dirN tol=$tolN",
            diffMaps("asof", got, want))
        case 22 =>
          // the custom GroupTopK SparkPlan (O6) vs a driver sort — a tiny
          // value domain plants dense ties AT the rank-k boundary (broken
          // only by the id column, which the order includes to stay
          // total); the window row_number form is an engine-vs-engine
          // cross-check on the same draw
          val k = 1 + rnd.nextInt(4)
          val ng = 1 + rnd.nextInt(5)
          var rid = 0L
          val rows = (0 until ng).flatMap { g =>
            (0 until rnd.nextInt(10)).map { _ =>
              rid += 1
              (g.toLong, rid, rnd.nextInt(k + 2).toLong)
            }
          }
          val df = rows.toDF("g", "id", "v")
          // random sort direction patrols the bounded-heap comparator
          // under BOTH orders (desc heaps keep the largest, not smallest)
          val asc = rnd.nextBoolean()
          val order = if (asc) Seq(col("v"), col("id"))
                      else Seq(col("v").desc, col("id").desc)
          def collectTk(d: DataFrame): Seq[(Long, Long, Long)] =
            d.select("g", "id", "v").collect()
              .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
          val gotExec = collectTk(graft.operators.RelationalOps
            .topKPerGroupExec(df, Seq(col("g")), order, k))
          val gotWin = collectTk(graft.operators.RelationalOps
            .topKPerGroup(df, Seq(col("g")), order, k))
          val want = rows.groupBy(_._1).values.flatMap { rs =>
            val s = rs.sortBy(r => (r._3, r._2))
            (if (asc) s else s.reverse).take(k)
          }.toSeq
          ("topk", s"k=$k groups=$ng rows=${rows.size} asc=$asc",
            diffRows("topk_exec", gotExec, want)
              .orElse(diffRows("topk_window", gotWin, want)))
        case 23 =>
          // integer-scaled PageRank vs the driver power iteration with
          // the SAME integer arithmetic (DIV truncation at every step) —
          // bit-exact, no tolerance; random iteration counts and scales
          val nv = 10 + rnd.nextInt(41)
          val p = 0.05 + rnd.nextDouble() * 0.20
          val iters = 1 + rnd.nextInt(4)
          val scale = Seq(1000000L, 1000000000L, 1000000000000L)(rnd.nextInt(3))
          val edges0 = randGraph(nv, p)
          val edges = if (edges0.nonEmpty) edges0 else Seq((0L, 1L))
          val got = graft.operators.Graph
            .pageRankScaled(edges.toDF("id_a", "id_b"), iters = iters, scale = scale)
            .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
          val want = refPageRank(edges, iters, scale)
          ("pagerank", s"nv=$nv e=${edges.size} iters=$iters scale=$scale",
            diffMaps("pagerank", got, want))
        case 24 =>
          // BPE train + encode vs driver replays: a 4-letter alphabet
          // forces dense pair-count ties (the (count, lex) tie-break
          // under patrol) and 1-letter words reach the empty-pair
          // early-stop; the learned table then feeds bpeTokenize (the
          // native BpeEncode expression), replayed per word
          val alpha = "abcd"
          val nDocsB = 3 + rnd.nextInt(8)
          val corpus = (1 to nDocsB).map { i =>
            (i.toLong, (1 to (1 + rnd.nextInt(7))).map { _ =>
              (1 to (1 + rnd.nextInt(5)))
                .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
            }.mkString(" "))
          }
          val rounds = 1 + rnd.nextInt(6)
          val docsDf = corpus.toDF("doc_id", "text")
          val gotMerges = graft.operators.TextAnalysis.bpeTrain(docsDf, rounds)
            .collect().map(r =>
              (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3))).toSeq
          val wordFreq = corpus.flatMap(_._2.split("\\s+").filter(_.nonEmpty))
            .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
          val wantMerges = refBpeTrain(wordFreq, rounds)
          val vTrain = diffRows("bpe_train", gotMerges, wantMerges)
          val merges = wantMerges.map(m => (m._2, m._3))
          val gotToks = graft.operators.TextAnalysis.bpeTokenize(docsDf, merges)
            .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
          val wantToks = corpus.map { case (id, text) =>
            val toks = text.split("\\s+").filter(_.nonEmpty).toVector
              .flatMap(w => refBpeApply(w, merges))
            (id, toks.size.toLong, toks.mkString(" "))
          }
          ("bpe", s"docs=$nDocsB rounds=$rounds merges=${wantMerges.size}",
            vTrain.orElse(diffRows("bpe_encode", gotToks, wantToks)))
        case 25 =>
          // deterministic samplers vs md5 driver replays: hashSample's
          // permille filter, stratifiedSample's first-n under the
          // (hash, key) order, and splitAssign's integer quota
          // boundaries — tiny domains land one row on each
          // n*permille/1000 floor
          val nr = 5 + rnd.nextInt(60)
          val nd = 1 + rnd.nextInt(4)
          val rowsS = (1 to nr).map { i =>
            (i.toLong, s"dom${rnd.nextInt(nd)}", s"k${rnd.nextInt(1000)}_$i")
          }
          val dfS = rowsS.toDF("id", "dom", "key")
          def h60(s: String): Long =
            java.lang.Long.parseLong(md5hex(s).take(15), 16)
          val pm = rnd.nextInt(1001)
          val gotHs = graft.operators.Sampling.hashSample(dfS, col("key"), pm)
            .select("id").collect().map(_.getLong(0)).toSet
          val wantHs = rowsS.filter(r => h60(r._3) % 1000 < pm).map(_._1).toSet
          val vHs = diffMaps("hash_sample",
            gotHs.map(_ -> 1L).toMap, wantHs.map(_ -> 1L).toMap)
          val nPer = 1 + rnd.nextInt(6)
          val gotStrat = graft.operators.Sampling
            .stratifiedSample(dfS, Seq(col("dom")), col("key"), nPer)
            .select("id").collect().map(_.getLong(0)).toSet
          val wantStrat = rowsS.groupBy(_._2).values.flatMap(
            _.sortBy(r => (h60(r._3), r._3)).take(nPer).map(_._1)).toSet
          val vStrat = diffMaps("stratified",
            gotStrat.map(_ -> 1L).toMap, wantStrat.map(_ -> 1L).toMap)
          val tp = rnd.nextInt(1001)
          val vp = rnd.nextInt(1001 - tp)
          val gotSplit = graft.operators.Sampling
            .splitAssign(dfS, "dom", col("key"), tp, vp)
            .select("id", "split").collect()
            .map(r => r.getLong(0) -> r.getString(1)).toMap
          val wantSplit = rowsS.groupBy(_._2).values.flatMap { rs =>
            val nTot = rs.size.toLong
            val (tq, vq) = (nTot * tp / 1000, nTot * tp / 1000 + nTot * vp / 1000)
            rs.sortBy(r => (h60(r._3), r._3)).zipWithIndex.map { case (r, idx) =>
              r._1 -> (if (idx < tq) "train" else if (idx < vq) "val" else "test")
            }
          }.toMap
          val vSplit = diffMaps("split", gotSplit, wantSplit)
          // shuffleShards: global (md5, key) rank dealt round-robin
          val nSh = 1 + rnd.nextInt(5)
          val gotSh = graft.operators.Sampling.shuffleShards(dfS, col("key"), nSh)
            .select("id", "shard", "shard_pos").collect()
            .map(r => r.getLong(0) -> ((r.getInt(1).toLong, r.getLong(2)))).toMap
          val wantSh = rowsS.sortBy(r => (h60(r._3), r._3)).zipWithIndex
            .map { case (r, i) => r._1 -> ((i.toLong % nSh, i.toLong / nSh)) }
            .toMap
          val vSh = diffMaps("shards", gotSh, wantSh)
          // weightedSample: A-ES top-n under the EXACT nested-sqrt
          // priority — the driver recomputes the identical IEEE doubles
          val nW = 1 + rnd.nextInt(10)
          val rowsW = rowsS.map(r => (r._1, r._3, rnd.nextInt(7)))
          val dfW = rowsW.toDF("id", "key", "lw")
          val gotW = graft.operators.Sampling
            .weightedSample(dfW, col("key"), col("lw"), nW)
            .select("id").collect().map(_.getLong(0)).toSet
          def prio(kk: String, k: Int): Double = {
            var u = (h60(kk).toDouble + 0.5) / 1.152921504606846976e18
            var i = 0
            while (i < k) { u = math.sqrt(u); i += 1 }
            u
          }
          val wantW = rowsW.map(r => (r._1, r._2, prio(r._2, r._3)))
            .sortBy { case (_, kk, p) => (-p, kk) }.take(nW).map(_._1).toSet
          val vW = diffMaps("weighted",
            gotW.map(_ -> 1L).toMap, wantW.map(_ -> 1L).toMap)
          ("sample", s"rows=$nr doms=$nd pm=$pm n=$nPer tp=$tp vp=$vp sh=$nSh nw=$nW",
            vHs.orElse(vStrat).orElse(vSplit).orElse(vSh).orElse(vW))
        // explicit indices, no catch-all (round-17 ADVICE): a family
        // appended to famNames without a matching case must FAIL FAST as
        // a recorded violation (the per-draw handler below), never
        // silently run a neighbor's draw under the new family's name
        case other => throw new IllegalStateException(
          s"OpFuzz: family index $other (${famNames(other)}) has no case")
      } catch {
        case e: Exception =>
          (famNames(fam), s"n=$sn theta=$theta",
            Some(s"exception: ${Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.next()}"))
      }
      val ms = (System.nanoTime() - t0) / 1000000
      results += ((family, params, violation, ms))
      val status = violation.map("VIOLATION " + _).getOrElse("ok")
      System.err.println(f"[opfuzz] $i%3d $family%-14s $params%-44s $status ($ms ms)")
    }

    val violations = results.filter(_._3.isDefined)
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val byFam = results.groupBy(_._1).map { case (f, rs) =>
      s"${q(f)}:{${q("draws")}:${rs.size},${q("violations")}:${rs.count(_._3.isDefined)}}"
    }.mkString("{", ",", "}")
    val detail = results.zipWithIndex.map { case ((f, p, v, ms), i) =>
      s"""{"i":$i,"family":${q(f)},"params":${q(p)},"ms":$ms""" +
        v.map(x => s""","violation":${q(x)}""").getOrElse("") + "}"
    }.mkString("[", ",", "]")
    val json = s"""{"seed":$seed,"n":$n,"sf":${q(sfDir)},"docs":$docCount,""" +
      s""""violations":${violations.size},"families":$byFam,"draws":$detail}"""
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), json)
    println(s"[opfuzz] ${results.size} draws, ${violations.size} violations -> $outJson")
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
