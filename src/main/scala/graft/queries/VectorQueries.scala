package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{KmeansPortable, PqPortable, Similarity, Sq}
import graft.queries.Catalog.{QueryDef, duckCosine}

/** Vector rows: exact and approximate kNN (LSH, IVF, PQ, IVFADC, SQ8),
  * their portable oracled twins, embedding near-dups, SemDeDup, MMR
  * re-ranking and negative sampling ([[graft.operators.Similarity]] and
  * the quantizer operators). */
object VectorQueries {

  private[queries] val q29 = QueryDef("q29_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnn(emb.filter(col("vec_id") < 50), emb, 1)
        .select("vec_id", "nn_id", "sim")
        .orderBy("vec_id")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             s AS (SELECT a.vec_id, b.vec_id AS nn_id, ROUND($duckCosine, 4) AS sim
                   FROM v a JOIN v b ON a.vec_id < 50 AND b.vec_id <> a.vec_id),
             r AS (SELECT vec_id, nn_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rn
                   FROM s)
             SELECT vec_id, nn_id, sim FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin),
    bench = true)

  /** SemDeDup (Similarity.semanticDedup): sign-grid cells over the first 4
    * dimensions, within-cell drop of any vector whose lower-id cell-mate
    * has cosine >= 0.9 (the paper's upper-triangular rule). The corpus has
    * no semantic near-dups, so the fixture plants them: vec_id < 20 gets a
    * LOWER-id x2-scaled clone (the original drops), vec_id in [20,40) a
    * higher-id one (the clone drops) — power-of-two scaling is FP-exact,
    * so clone cosine is exactly 1.0 on both engines and both drop
    * directions are exercised. The oracle re-derives cell assignment, the
    * fixture, and the EXISTS drop rule over all within-cell pairs. */
  private[queries] val d15 = QueryDef("d15_semantic_dedup",
    (s, d) => {
      val base = Tables.embeddings(s, d).select("vec_id", "embedding")
      val clones = base.filter(col("vec_id") < 40).select(
        when(col("vec_id") < 20, col("vec_id") - 10000)
          .otherwise(col("vec_id") + 10000).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      Similarity.semanticDedup(
          base.unionByName(clones), cellBits = 4, threshold = 0.9)
        .select(col("vec_id"), col("cell").cast("int").as("cell"), col("kept"))
        .orderBy("vec_id")
    },
    Some(s"""WITH raw AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                          FROM embeddings),
             v AS (SELECT vec_id, e FROM raw
                   UNION ALL
                   SELECT CASE WHEN vec_id < 20 THEN vec_id - 10000
                               ELSE vec_id + 10000 END,
                          list_transform(e, x -> x * 2)
                   FROM raw WHERE vec_id < 40),
             c AS (SELECT vec_id, e,
                     (CASE WHEN e[1] >= 0 THEN 1 ELSE 0 END) +
                     (CASE WHEN e[2] >= 0 THEN 2 ELSE 0 END) +
                     (CASE WHEN e[3] >= 0 THEN 4 ELSE 0 END) +
                     (CASE WHEN e[4] >= 0 THEN 8 ELSE 0 END) AS cell FROM v)
             SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
               NOT EXISTS (SELECT 1 FROM c b
                 WHERE b.cell = a.cell AND b.vec_id < a.vec_id
                   AND ROUND($duckCosine, 4) >= 0.9) AS kept
             FROM c a
             ORDER BY vec_id"""),
    bench = true)

  private[queries] val d05 = QueryDef("d05_embed_neardup",
    (s, d) => Similarity.cosineNearDupPairs(
        Tables.embeddings(s, d).filter(col("vec_id") < 100), -1.0)
      .orderBy(col("sim").desc, col("id_a"), col("id_b"))
      .limit(10),
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                        FROM embeddings WHERE vec_id < 100)
             SELECT a.vec_id AS id_a, b.vec_id AS id_b, ROUND($duckCosine, 4) AS sim
             FROM v a JOIN v b ON a.vec_id < b.vec_id
             ORDER BY sim DESC, id_a, id_b LIMIT 10"""))

  /** Shared by x01 (window form) and x11 (custom GroupTopK exec form) —
    * the two plans must be row-identical under the same oracle. */
  private val x01Oracle: String =
    s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
             s AS (SELECT a.vec_id, b.vec_id AS nn_id, ROUND($duckCosine, 4) AS sim
                   FROM v a JOIN v b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
             r AS (SELECT vec_id, nn_id, sim,
                     ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rnk
                   FROM s)
             SELECT vec_id, nn_id, sim, CAST(rnk AS INT) AS rnk
             FROM r WHERE rnk <= 5 ORDER BY vec_id, rnk"""

  private[queries] val x01 = QueryDef("x01_knn5",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnn(emb.filter(col("vec_id") < 20), emb, 5)
        .select(col("vec_id"), col("nn_id"), col("sim"), col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    Some(x01Oracle))

  /** x11: the SAME exact brute-force kNN as x01 but executed through the
    * custom GroupTopK SparkPlan (Similarity.bruteForceKnnExec) — partial
    * bounded per-group heaps k-bound every map partition BEFORE the
    * exchange, and nothing ever sorts the full score space. Shares x01's
    * oracle verbatim: the custom operator must be row-identical to the
    * window form on the ANN path, certified in the gate. */
  private[queries] val x11 = QueryDef("x11_knn_grouptopk",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceKnnExec(emb.filter(col("vec_id") < 20), emb, 5)
        .select(col("vec_id"), col("nn_id"), col("sim"), col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    Some(x01Oracle))

  private[queries] val x02 = QueryDef("x02_lsh_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshKnn(emb.filter(col("vec_id") < 20), emb, 5)
        .select(col("vec_id"), col("nn_id"), col("sim"), col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    None, bench = true)

  private[queries] val x03 = QueryDef("x03_ivf_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Ivf.ivfKnn(emb.filter(col("vec_id") < 20), emb, 5,
          nCells = 16, nprobe = 4)
        .select(col("vec_id"), col("nn_id"), col("sim"), col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    None, bench = true)

  /** PQ/ADC kNN (rows-only: k-means codebooks are engine-seeded; exact
    * twin x01, recall floor in PqSpec). The compression scale path: the
    * corpus scans as m one-byte codes per vector, distances are m table
    * lookups (see operators/Pq.scala). */
  private[queries] val x04 = QueryDef("x04_pq_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Pq.pqKnn(emb.filter(col("vec_id") < 20), emb, 5,
          m = 16, codes = 32, iters = 3)
        .select(col("vec_id"), col("nn_id"), col("approx_d2"),
          col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    None) // not benched: full-scan ADC is the compression demo, x02/x03 are the bench ANN

  /** IVFADC (rows-only; recall floor in PqSpec): IVF cells prune the
    * candidate set, PQ/ADC compresses the scoring — the composed shape a
    * billion-vector index runs. */
  private[queries] val x05 = QueryDef("x05_ivfadc_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Pq.ivfAdcKnn(emb.filter(col("vec_id") < 20), emb, 5,
          nCells = 16, nprobe = 4, m = 16, codes = 32, iters = 3)
        .select(col("vec_id"), col("nn_id"), col("approx_d2"),
          col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    None)

  /** SQ8 ANN (Sq.sq8Knn): full-precision queries against the 1-byte/dim
    * scalar-quantized corpus. Rows-only by design — the quantized
    * similarity has no portable SQL twin; quality is pinned by
    * SqRecallSpec's recall floor against the exact twin x01 and the
    * quantizer arithmetic by SqSpec. */
  private[queries] val x06 = QueryDef("x06_sq8_knn",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      graft.operators.Sq.sq8Knn(emb.filter(col("vec_id") < 20), emb, 5)
        .select(col("vec_id"), col("nn_id"), col("sim"), col("rank").as("rnk"))
        .orderBy("vec_id", "rnk")
    },
    None)

  /** MMR diversity re-ranking (Similarity.mmrRerank, lambda=0.5, k=3) of 50
    * candidates per query. The oracle unrolls all three greedy rounds in
    * SQL over the same scaled-BIGINT cosines — a hash match certifies the
    * greedy argmax, the max-sim-to-selected aggregation, and the tie-breaks
    * of every round exactly (the d14 exact-integer regime). */
  private[queries] val x07 = QueryDef("x07_mmr_rerank",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.mmrRerank(emb.filter(col("vec_id") < 8),
          emb.filter(col("vec_id") >= 8 && col("vec_id") < 58),
          k = 3, lambda = 0.5)
        .orderBy("qid", "rnk")
    },
    Some("""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
            q AS (SELECT vec_id AS qid, e FROM v WHERE vec_id < 8),
            c AS (SELECT vec_id AS cid, e FROM v WHERE vec_id >= 8 AND vec_id < 58),
            rel AS (SELECT qid, cid,
                      CAST(FLOOR(list_dot_product(q.e, c.e) /
                        (sqrt(list_dot_product(q.e, q.e)) * sqrt(list_dot_product(c.e, c.e)))
                        * 10000 + 0.5) AS BIGINT) AS rel
                    FROM q, c),
            cs AS (SELECT a.cid AS ca, b.cid AS cb,
                     CAST(FLOOR(list_dot_product(a.e, b.e) /
                       (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e)))
                       * 10000 + 0.5) AS BIGINT) AS s
                   FROM c a JOIN c b ON a.cid <> b.cid),
            r1 AS (SELECT qid, cid, rel FROM (
                     SELECT qid, cid, rel, ROW_NUMBER() OVER (
                       PARTITION BY qid ORDER BY rel DESC, cid) AS rn
                     FROM rel) t WHERE rn = 1),
            p2 AS (SELECT rel.qid, rel.cid, rel.rel, cs.s AS ms
                   FROM rel JOIN r1 ON rel.qid = r1.qid AND rel.cid <> r1.cid
                   JOIN cs ON cs.ca = rel.cid AND cs.cb = r1.cid),
            r2 AS (SELECT qid, cid, rel FROM (
                     SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY 5000*rel - 5000*ms DESC, cid) AS rn FROM p2) t
                   WHERE rn = 1),
            p3 AS (SELECT rel.qid, rel.cid, rel.rel, GREATEST(s1.s, s2.s) AS ms
                   FROM rel
                   JOIN r1 ON rel.qid = r1.qid
                   JOIN r2 ON rel.qid = r2.qid
                   JOIN cs s1 ON s1.ca = rel.cid AND s1.cb = r1.cid
                   JOIN cs s2 ON s2.ca = rel.cid AND s2.cb = r2.cid
                   WHERE rel.cid <> r1.cid AND rel.cid <> r2.cid),
            r3 AS (SELECT qid, cid, rel FROM (
                     SELECT qid, cid, rel, ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY 5000*rel - 5000*ms DESC, cid) AS rn FROM p3) t
                   WHERE rn = 1)
            SELECT qid, cid, CAST(1 AS INT) AS rnk, rel FROM r1
            UNION ALL SELECT qid, cid, CAST(2 AS INT), rel FROM r2
            UNION ALL SELECT qid, cid, CAST(3 AS INT), rel FROM r3
            ORDER BY qid, rnk"""))

  /** SemDeDup with the paper's k-means clustering step
    * (Similarity.semanticDedupKmeans): deterministic-init k-means cells,
    * same oracled drop rule as d15. Rows-only by design (double k-means);
    * since round 12 the clustering ITSELF has a bit-exact oracled twin —
    * x12 ([[graft.operators.KmeansPortable]]): integer-quantized
    * coordinates, md5 init, floor-average Lloyd rounds, cells + drop rule
    * hash-certified in DuckDB. The drop semantics here are pinned by
    * CurationOpsSpec on planted exact duplicates and the rule itself is
    * bit-exact-oracled through d15's sign-grid cells. */
  private[queries] val x09 = QueryDef("x09_semdedup_kmeans",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") < 30)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      Similarity.semanticDedupKmeans(emb.unionByName(clones),
          nCells = 8, iters = 3, threshold = 0.9)
        .orderBy("vec_id")
    },
    None)

  /** Deterministic negative sampling (Similarity.negativeSample): 8
    * pool-drawn hard-uniform negatives per anchor, excluding the x01
    * brute-force top-5 positives. The oracle replays the whole chain —
    * the exact cosine top-5, the salted pool gate, the pair-hash rank
    * and the exclusions — so each anchor's negative SET and order are
    * hash-certified, proving the draw is reproducible off-engine (the
    * property that makes contrastive training data auditable). */
  private[queries] val x10 = QueryDef("x10_negative_sample",
    (s, d) => {
      val emb = Tables.embeddings(s, d)
      val anchors = emb.filter(col("vec_id") < 20)
      val pos = Similarity.bruteForceKnn(anchors, emb, 5)
      Similarity.negativeSample(anchors, emb,
          pos.select("vec_id", "nn_id"), k = 8)
        .orderBy("vec_id", "rnk")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                        FROM embeddings),
             s AS (SELECT a.vec_id, b.vec_id AS nn_id, ROUND($duckCosine, 4) AS sim
                   FROM v a JOIN v b ON a.vec_id < 20 AND b.vec_id <> a.vec_id),
             r AS (SELECT vec_id, nn_id,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                       ORDER BY sim DESC, nn_id) AS rnk
                   FROM s),
             pos AS (SELECT vec_id, nn_id FROM r WHERE rnk <= 5),
             pool AS (SELECT vec_id AS neg FROM embeddings
                      WHERE ('0x' || substring(md5(CAST(vec_id AS VARCHAR)
                              || '#negpool'), 1, 15))::BIGINT % 1000 < 100),
             a AS (SELECT vec_id FROM embeddings WHERE vec_id < 20),
             cand AS (SELECT a.vec_id, p.neg,
                 ('0x' || substring(md5(CAST(a.vec_id AS VARCHAR) || '|' ||
                    CAST(p.neg AS VARCHAR)), 1, 15))::BIGINT AS h
               FROM a, pool p
               WHERE p.neg <> a.vec_id
                 AND NOT EXISTS (SELECT 1 FROM pos
                                 WHERE pos.vec_id = a.vec_id
                                   AND pos.nn_id = p.neg)),
             rk AS (SELECT vec_id, neg,
                      ROW_NUMBER() OVER (PARTITION BY vec_id
                        ORDER BY h, neg) AS rnk
                    FROM cand)
             SELECT vec_id, neg AS neg_id, CAST(rnk AS INT) AS rnk
             FROM rk WHERE rnk <= 8 ORDER BY vec_id, rnk"""))

  /** x12: deterministic portable k-means over the embedding corpus (with
    * planted exact-duplicate clones so the drop rule is load-bearing).
    * Every stage is exact: the only double arithmetic is the quantizer's
    * `floor(x*256 + 0.5)`, evaluated token-identically on both engines;
    * init order, assignment, centroid updates and distances are integer.
    * A wrong init draw, a drifted centroid, a wrong argmin tie-break or a
    * lost empty-cell carry-over is a hash mismatch. x09 (double k-means +
    * cosine threshold) stays the production SemDeDup path; this is its
    * oracled twin, the d12/d08 technique applied to clustering. */
  private[queries] val x12 = QueryDef("x12_kmeans_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      val clones = emb.filter(col("vec_id") < 30)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      KmeansPortable.cells(emb.unionByName(clones), k = 4, rounds = 3)
        .orderBy("vec_id")
    },
    Some("""WITH corpus AS (
              SELECT vec_id, embedding FROM embeddings
              UNION ALL
              SELECT vec_id + 10000, embedding FROM embeddings
              WHERE vec_id < 30),
            q AS (
              SELECT vec_id,
                list_transform(embedding, x -> GREATEST(0, LEAST(255,
                  CAST(floor(CAST(x AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                    + 128))) AS qv
              FROM corpus),
            qe AS (
              SELECT vec_id, CAST(p.range + 1 AS INT) AS pos,
                     qv[CAST(p.range + 1 AS INT)] AS val
              FROM q, range(64) p),
            init AS (
              SELECT row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
                vec_id
              FROM q QUALIFY j <= 3),
            c0 AS (SELECT i.j, e.pos, e.val
                   FROM init i JOIN qe e USING (vec_id)),
            a1 AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c0 c USING (pos) GROUP BY 1, 2),
            g1 AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM a1)
                   WHERE rn = 1),
            s1 AS (SELECT g.j, e.pos,
                     CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                   FROM g1 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            c1 AS (SELECT c0.j, c0.pos, COALESCE(s1.val, c0.val) AS val
                   FROM c0 LEFT JOIN s1 ON s1.j = c0.j AND s1.pos = c0.pos),
            a2 AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c1 c USING (pos) GROUP BY 1, 2),
            g2 AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM a2)
                   WHERE rn = 1),
            s2 AS (SELECT g.j, e.pos,
                     CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                   FROM g2 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            c2 AS (SELECT c1.j, c1.pos, COALESCE(s2.val, c1.val) AS val
                   FROM c1 LEFT JOIN s2 ON s2.j = c1.j AND s2.pos = c1.pos),
            a3 AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c2 c USING (pos) GROUP BY 1, 2),
            g3 AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM a3)
                   WHERE rn = 1),
            s3 AS (SELECT g.j, e.pos,
                     CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                   FROM g3 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            c3 AS (SELECT c2.j, c2.pos, COALESCE(s3.val, c2.val) AS val
                   FROM c2 LEFT JOIN s3 ON s3.j = c2.j AND s3.pos = c2.pos),
            af AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c3 c USING (pos) GROUP BY 1, 2),
            gf AS (SELECT vec_id, j, d FROM (
                     SELECT vec_id, j, d, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM af)
                   WHERE rn = 1),
            kk AS (SELECT vec_id, array_to_string(qv, ',') AS qkey FROM q)
            SELECT g.vec_id, CAST(g.j AS INT) AS cell, g.d AS dist2,
              g.vec_id = MIN(g.vec_id) OVER (PARTITION BY g.j, k.qkey)
                AS kept
            FROM gf g JOIN kk k USING (vec_id)
            ORDER BY vec_id"""), bench = true)

  // x13–x16: the portable twins that close the ANN design family — x12's
  // machinery applied stage by stage until every `no_oracle` ANN row has
  // a bit-certified sibling:
  //   - x13 `ivf_portable`   — cell-pruned kNN (x03's twin);
  //   - x14 `pq_portable`    — PQ/ADC compression search (x04's twin);
  //   - x15 `ivfadc_portable`— IVF pruning × PQ scoring composed (x05's);
  //   - x16 `sq_portable`    — scalar-quantized asymmetric search (x06's).

  /** x13: deterministic portable IVF kNN over the embedding corpus.
    * [[KmeansPortable.fit]] (k=4 cells, 3 Lloyd rounds, md5 init) is the
    * coarse quantizer; each query (vec_id < 20) probes its nprobe=2
    * nearest cells by exact integer centroid distance with ties to the
    * lowest cell index; candidates in the probed cells are reranked by
    * exact integer L2² with a (dist2, nn_id) tie-break; top-5 per query.
    * The oracle re-derives every stage: the x12 centroid CTE chain
    * (c0..c3), the final corpus assignment (af/gf), the probe ranking
    * (row_number over the SAME af — queries are corpus members, so their
    * centroid distances are already in af), candidate generation, and the
    * exact rerank. A wrong centroid, a wrong probe ranking, a candidate
    * leak across unprobed cells, or a wrong rerank tie-break is a hash
    * mismatch. x03 (double k-means + cosine) stays the production IVF
    * path; this is its oracled twin. */
  private[queries] val x13 = QueryDef("x13_ivf_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      KmeansPortable.ivfSearch(emb.filter(col("vec_id") < 20), emb,
          topK = 5, k = 4, rounds = 3, nprobe = 2)
        .orderBy("vec_id", "rnk")
    },
    Some("""WITH q AS (
              SELECT vec_id,
                list_transform(embedding, x -> GREATEST(0, LEAST(255,
                  CAST(floor(CAST(x AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                    + 128))) AS qv
              FROM embeddings),
            qe AS (
              SELECT vec_id, CAST(p.range + 1 AS INT) AS pos,
                     qv[CAST(p.range + 1 AS INT)] AS val
              FROM q, range(64) p),
            init AS (
              SELECT row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
                vec_id
              FROM q QUALIFY j <= 3),
            c0 AS (SELECT i.j, e.pos, e.val
                   FROM init i JOIN qe e USING (vec_id)),
            a1 AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c0 c USING (pos) GROUP BY 1, 2),
            g1 AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM a1)
                   WHERE rn = 1),
            s1 AS (SELECT g.j, e.pos,
                     CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                   FROM g1 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            c1 AS (SELECT c0.j, c0.pos, COALESCE(s1.val, c0.val) AS val
                   FROM c0 LEFT JOIN s1 ON s1.j = c0.j AND s1.pos = c0.pos),
            a2 AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c1 c USING (pos) GROUP BY 1, 2),
            g2 AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM a2)
                   WHERE rn = 1),
            s2 AS (SELECT g.j, e.pos,
                     CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                   FROM g2 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            c2 AS (SELECT c1.j, c1.pos, COALESCE(s2.val, c1.val) AS val
                   FROM c1 LEFT JOIN s2 ON s2.j = c1.j AND s2.pos = c1.pos),
            a3 AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c2 c USING (pos) GROUP BY 1, 2),
            g3 AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM a3)
                   WHERE rn = 1),
            s3 AS (SELECT g.j, e.pos,
                     CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                   FROM g3 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            c3 AS (SELECT c2.j, c2.pos, COALESCE(s3.val, c2.val) AS val
                   FROM c2 LEFT JOIN s3 ON s3.j = c2.j AND s3.pos = c2.pos),
            af AS (SELECT e.vec_id, c.j,
                     CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                   FROM qe e JOIN c3 c USING (pos) GROUP BY 1, 2),
            gf AS (SELECT vec_id, j FROM (
                     SELECT vec_id, j, row_number() OVER (
                       PARTITION BY vec_id ORDER BY d, j) AS rn FROM af)
                   WHERE rn = 1),
            probe AS (SELECT vec_id AS qid, j FROM (
                        SELECT vec_id, j, row_number() OVER (
                          PARTITION BY vec_id ORDER BY d, j) AS rn
                        FROM af WHERE vec_id < 20)
                      WHERE rn <= 2),
            cand AS (SELECT p.qid, g.vec_id AS nn
                     FROM probe p JOIN gf g USING (j)
                     WHERE g.vec_id <> p.qid),
            dist AS (SELECT c.qid, c.nn,
                       CAST(SUM((a.val - b.val) * (a.val - b.val)) AS BIGINT)
                         AS d
                     FROM cand c
                     JOIN qe a ON a.vec_id = c.qid
                     JOIN qe b ON b.vec_id = c.nn AND b.pos = a.pos
                     GROUP BY 1, 2)
            SELECT qid AS vec_id, nn AS nn_id, d AS dist2,
              CAST(rn AS INT) AS rnk
            FROM (SELECT qid, nn, d, row_number() OVER (
                    PARTITION BY qid ORDER BY d, nn) AS rn FROM dist)
            WHERE rn <= 5
            ORDER BY vec_id, rnk"""), bench = true)

  /** x14: deterministic portable PQ/ADC over the embedding corpus
    * ([[PqPortable.pqSearch]], m=4 subspaces of 16 dims, 4 codes per
    * book, 2 Lloyd rounds, md5 init). The oracle re-derives every stage
    * with the subspace threaded through each key: the shared 4-seed init,
    * both per-subspace Lloyd rounds (assignment pa/pg, floor-average ps,
    * carry-over b), the final corpus codes (enc), the query ADC partial
    * table (paf restricted to vec_id < 20 — queries are corpus members,
    * so their subvector-to-centroid distances are already in paf), and
    * the m-lookup summed distances with (approx_d2, nn_id) tie-break. A
    * wrong codebook, code, table entry, or tie is a hash mismatch. x04
    * (engine-seeded double k-means) stays the production PQ path. */
  private[queries] val x14 = QueryDef("x14_pq_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      PqPortable.pqSearch(emb.filter(col("vec_id") < 20), emb,
          topK = 5, m = 4, codes = 4, rounds = 2)
        .orderBy("vec_id", "rnk")
    },
    Some("""WITH q AS (
              SELECT vec_id,
                list_transform(embedding, x -> GREATEST(0, LEAST(255,
                  CAST(floor(CAST(x AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                    + 128))) AS qv
              FROM embeddings),
            qe AS (
              SELECT vec_id, CAST(p.range + 1 AS INT) AS pos,
                     CAST(p.range // 16 AS INT) AS sub,
                     qv[CAST(p.range + 1 AS INT)] AS val
              FROM q, range(64) p),
            init AS (
              SELECT row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS c,
                vec_id
              FROM q QUALIFY c <= 3),
            b0 AS (SELECT i.c, e.sub, e.pos, e.val
                   FROM init i JOIN qe e USING (vec_id)),
            pa1 AS (SELECT e.vec_id, e.sub, b.c,
                      CAST(SUM((e.val - b.val) * (e.val - b.val)) AS BIGINT) AS d
                    FROM qe e JOIN b0 b USING (pos) GROUP BY 1, 2, 3),
            pg1 AS (SELECT vec_id, sub, c FROM (
                      SELECT vec_id, sub, c, row_number() OVER (
                        PARTITION BY vec_id, sub ORDER BY d, c) AS rn FROM pa1)
                    WHERE rn = 1),
            ps1 AS (SELECT g.c, e.pos,
                      CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                    FROM pg1 g JOIN qe e
                      ON e.vec_id = g.vec_id AND e.sub = g.sub
                    GROUP BY 1, 2),
            b1 AS (SELECT b0.c, b0.sub, b0.pos, COALESCE(ps1.val, b0.val) AS val
                   FROM b0 LEFT JOIN ps1
                     ON ps1.c = b0.c AND ps1.pos = b0.pos),
            pa2 AS (SELECT e.vec_id, e.sub, b.c,
                      CAST(SUM((e.val - b.val) * (e.val - b.val)) AS BIGINT) AS d
                    FROM qe e JOIN b1 b USING (pos) GROUP BY 1, 2, 3),
            pg2 AS (SELECT vec_id, sub, c FROM (
                      SELECT vec_id, sub, c, row_number() OVER (
                        PARTITION BY vec_id, sub ORDER BY d, c) AS rn FROM pa2)
                    WHERE rn = 1),
            ps2 AS (SELECT g.c, e.pos,
                      CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                    FROM pg2 g JOIN qe e
                      ON e.vec_id = g.vec_id AND e.sub = g.sub
                    GROUP BY 1, 2),
            b2 AS (SELECT b1.c, b1.sub, b1.pos, COALESCE(ps2.val, b1.val) AS val
                   FROM b1 LEFT JOIN ps2
                     ON ps2.c = b1.c AND ps2.pos = b1.pos),
            paf AS (SELECT e.vec_id, e.sub, b.c,
                      CAST(SUM((e.val - b.val) * (e.val - b.val)) AS BIGINT) AS d
                    FROM qe e JOIN b2 b USING (pos) GROUP BY 1, 2, 3),
            enc AS (SELECT vec_id, sub, c FROM (
                      SELECT vec_id, sub, c, row_number() OVER (
                        PARTITION BY vec_id, sub ORDER BY d, c) AS rn FROM paf)
                    WHERE rn = 1),
            score AS (SELECT a.vec_id AS qid, n.vec_id AS nn,
                        CAST(SUM(a.d) AS BIGINT) AS s
                      FROM enc n JOIN paf a
                        ON a.sub = n.sub AND a.c = n.c
                          AND a.vec_id < 20 AND a.vec_id <> n.vec_id
                      GROUP BY 1, 2)
            SELECT qid AS vec_id, nn AS nn_id, s AS approx_d2,
              CAST(rn AS INT) AS rnk
            FROM (SELECT qid, nn, s, row_number() OVER (
                    PARTITION BY qid ORDER BY s, nn) AS rn FROM score)
            WHERE rn <= 5
            ORDER BY vec_id, rnk"""))

  /** x15: deterministic portable IVFADC — the composed billion-vector
    * shape with both stages certified: x13's coarse chain (k=4 cells,
    * 2 Lloyd rounds here) prunes candidates to nprobe=2 probed cells,
    * x14's PQ chain (m=4, 4 codes, 2 rounds) scores them by summed ADC
    * lookups. Coarse and fine share the same md5 4-seed init CTE. A
    * candidate leaking across unprobed cells, a wrong cell, code, or ADC
    * entry is a hash mismatch. x05 stays the production path. */
  private[queries] val x15 = QueryDef("x15_ivfadc_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      PqPortable.ivfAdcSearch(emb.filter(col("vec_id") < 20), emb,
          topK = 5, kCells = 4, coarseRounds = 2, nprobe = 2,
          m = 4, codes = 4, pqRounds = 2)
        .orderBy("vec_id", "rnk")
    },
    Some("""WITH q AS (
              SELECT vec_id,
                list_transform(embedding, x -> GREATEST(0, LEAST(255,
                  CAST(floor(CAST(x AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                    + 128))) AS qv
              FROM embeddings),
            qe AS (
              SELECT vec_id, CAST(p.range + 1 AS INT) AS pos,
                     CAST(p.range // 16 AS INT) AS sub,
                     qv[CAST(p.range + 1 AS INT)] AS val
              FROM q, range(64) p),
            init AS (
              SELECT row_number() OVER (
                  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS j,
                vec_id
              FROM q QUALIFY j <= 3),
            cc0 AS (SELECT i.j, e.pos, e.val
                    FROM init i JOIN qe e USING (vec_id)),
            ca1 AS (SELECT e.vec_id, c.j,
                      CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                    FROM qe e JOIN cc0 c USING (pos) GROUP BY 1, 2),
            cg1 AS (SELECT vec_id, j FROM (
                      SELECT vec_id, j, row_number() OVER (
                        PARTITION BY vec_id ORDER BY d, j) AS rn FROM ca1)
                    WHERE rn = 1),
            cs1 AS (SELECT g.j, e.pos,
                      CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                    FROM cg1 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            cc1 AS (SELECT cc0.j, cc0.pos, COALESCE(cs1.val, cc0.val) AS val
                    FROM cc0 LEFT JOIN cs1
                      ON cs1.j = cc0.j AND cs1.pos = cc0.pos),
            ca2 AS (SELECT e.vec_id, c.j,
                      CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                    FROM qe e JOIN cc1 c USING (pos) GROUP BY 1, 2),
            cg2 AS (SELECT vec_id, j FROM (
                      SELECT vec_id, j, row_number() OVER (
                        PARTITION BY vec_id ORDER BY d, j) AS rn FROM ca2)
                    WHERE rn = 1),
            cs2 AS (SELECT g.j, e.pos,
                      CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                    FROM cg2 g JOIN qe e USING (vec_id) GROUP BY 1, 2),
            cc2 AS (SELECT cc1.j, cc1.pos, COALESCE(cs2.val, cc1.val) AS val
                    FROM cc1 LEFT JOIN cs2
                      ON cs2.j = cc1.j AND cs2.pos = cc1.pos),
            caf AS (SELECT e.vec_id, c.j,
                      CAST(SUM((e.val - c.val) * (e.val - c.val)) AS BIGINT) AS d
                    FROM qe e JOIN cc2 c USING (pos) GROUP BY 1, 2),
            cgf AS (SELECT vec_id, j FROM (
                      SELECT vec_id, j, row_number() OVER (
                        PARTITION BY vec_id ORDER BY d, j) AS rn FROM caf)
                    WHERE rn = 1),
            probe AS (SELECT vec_id AS qid, j FROM (
                        SELECT vec_id, j, row_number() OVER (
                          PARTITION BY vec_id ORDER BY d, j) AS rn
                        FROM caf WHERE vec_id < 20)
                      WHERE rn <= 2),
            b0 AS (SELECT i.j AS c, e.sub, e.pos, e.val
                   FROM init i JOIN qe e USING (vec_id)),
            pa1 AS (SELECT e.vec_id, e.sub, b.c,
                      CAST(SUM((e.val - b.val) * (e.val - b.val)) AS BIGINT) AS d
                    FROM qe e JOIN b0 b USING (pos) GROUP BY 1, 2, 3),
            pg1 AS (SELECT vec_id, sub, c FROM (
                      SELECT vec_id, sub, c, row_number() OVER (
                        PARTITION BY vec_id, sub ORDER BY d, c) AS rn FROM pa1)
                    WHERE rn = 1),
            ps1 AS (SELECT g.c, e.pos,
                      CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                    FROM pg1 g JOIN qe e
                      ON e.vec_id = g.vec_id AND e.sub = g.sub
                    GROUP BY 1, 2),
            b1 AS (SELECT b0.c, b0.sub, b0.pos, COALESCE(ps1.val, b0.val) AS val
                   FROM b0 LEFT JOIN ps1
                     ON ps1.c = b0.c AND ps1.pos = b0.pos),
            pa2 AS (SELECT e.vec_id, e.sub, b.c,
                      CAST(SUM((e.val - b.val) * (e.val - b.val)) AS BIGINT) AS d
                    FROM qe e JOIN b1 b USING (pos) GROUP BY 1, 2, 3),
            pg2 AS (SELECT vec_id, sub, c FROM (
                      SELECT vec_id, sub, c, row_number() OVER (
                        PARTITION BY vec_id, sub ORDER BY d, c) AS rn FROM pa2)
                    WHERE rn = 1),
            ps2 AS (SELECT g.c, e.pos,
                      CAST(SUM(e.val) // COUNT(*) AS BIGINT) AS val
                    FROM pg2 g JOIN qe e
                      ON e.vec_id = g.vec_id AND e.sub = g.sub
                    GROUP BY 1, 2),
            b2 AS (SELECT b1.c, b1.sub, b1.pos, COALESCE(ps2.val, b1.val) AS val
                   FROM b1 LEFT JOIN ps2
                     ON ps2.c = b1.c AND ps2.pos = b1.pos),
            paf AS (SELECT e.vec_id, e.sub, b.c,
                      CAST(SUM((e.val - b.val) * (e.val - b.val)) AS BIGINT) AS d
                    FROM qe e JOIN b2 b USING (pos) GROUP BY 1, 2, 3),
            enc AS (SELECT vec_id, sub, c FROM (
                      SELECT vec_id, sub, c, row_number() OVER (
                        PARTITION BY vec_id, sub ORDER BY d, c) AS rn FROM paf)
                    WHERE rn = 1),
            cand AS (SELECT p.qid, g.vec_id AS nn
                     FROM probe p JOIN cgf g USING (j)
                     WHERE g.vec_id <> p.qid),
            score AS (SELECT c.qid, c.nn, CAST(SUM(a.d) AS BIGINT) AS s
                      FROM cand c
                      JOIN enc n ON n.vec_id = c.nn
                      JOIN paf a ON a.vec_id = c.qid
                        AND a.sub = n.sub AND a.c = n.c
                      GROUP BY 1, 2)
            SELECT qid AS vec_id, nn AS nn_id, s AS approx_d2,
              CAST(rn AS INT) AS rnk
            FROM (SELECT qid, nn, s, row_number() OVER (
                    PARTITION BY qid ORDER BY s, nn) AS rn FROM score)
            WHERE rn <= 5
            ORDER BY vec_id, rnk"""))

  /** x16: deterministic portable scalar-quantization search
    * ([[Sq.sqSearch]], 16 levels): per-dimension integer [lo, hi] grid,
    * no-clamp code `((v-lo)*16) // (hi-lo+1)`, integer cell-midpoint
    * reconstruction, exact integer L2² of full-precision queries against
    * the reconstructed corpus, (dist2, nn_id) ties. The oracle re-derives
    * grid, codes, reconstruction, and distances; a wrong grid bound or a
    * midpoint off by one is a hash mismatch. x06 (float cosine over the
    * midpoint-dequantized SQ8 corpus) stays the production path. */
  private[queries] val x16 = QueryDef("x16_sq_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      Sq.sqSearch(emb.filter(col("vec_id") < 20), emb, topK = 5,
          levels = 16)
        .orderBy("vec_id", "rnk")
    },
    Some("""WITH q AS (
              SELECT vec_id,
                list_transform(embedding, x -> GREATEST(0, LEAST(255,
                  CAST(floor(CAST(x AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                    + 128))) AS qv
              FROM embeddings),
            qe AS (
              SELECT vec_id, CAST(p.range + 1 AS INT) AS pos,
                     qv[CAST(p.range + 1 AS INT)] AS val
              FROM q, range(64) p),
            grid AS (SELECT pos, MIN(val) AS lo, MAX(val) AS hi
                     FROM qe GROUP BY pos),
            enc AS (SELECT e.vec_id, e.pos,
                      g.lo + (((2 * (((e.val - g.lo) * 16)
                          // (g.hi - g.lo + 1))) + 1)
                        * (g.hi - g.lo + 1)) // 32 AS recon
                    FROM qe e JOIN grid g USING (pos)),
            dist AS (SELECT a.vec_id AS qid, b.vec_id AS nn,
                       CAST(SUM((a.val - b.recon) * (a.val - b.recon))
                         AS BIGINT) AS d
                     FROM qe a JOIN enc b
                       ON b.pos = a.pos AND b.vec_id <> a.vec_id
                     WHERE a.vec_id < 20 GROUP BY 1, 2)
            SELECT qid AS vec_id, nn AS nn_id, d AS dist2,
              CAST(rn AS INT) AS rnk
            FROM (SELECT qid, nn, d, row_number() OVER (
                    PARTITION BY qid ORDER BY d, nn) AS rn FROM dist)
            WHERE rn <= 5
            ORDER BY vec_id, rnk"""))

  /** x17: deterministic portable hyperplane-LSH search
    * ([[graft.operators.Similarity.lshPortable]], 4 tables × 6 planes):
    * md5-derived integer hyperplanes, sign-bit buckets over the centered
    * quantized coordinates, DISTINCT same-(table, bucket) candidate
    * pairs, exact integer L2² rerank with (dist2, nn_id) ties. The
    * oracle re-derives the coefficient bytes (hex-char strpos parsing of
    * the same md5), every plane dot, every bucket id, the candidate
    * join, and the rerank — a single flipped sign bit anywhere moves a
    * vector across buckets and is a hash mismatch. x02 (seeded
    * hyperplanes + float cosine) stays the production path; with x17 the
    * whole ANN design family x02-x06 now has bit-certified twins. */
  private[queries] val x17 = QueryDef("x17_lsh_portable",
    (s, d) => {
      val emb = Tables.embeddings(s, d).select("vec_id", "embedding")
      graft.operators.Similarity.lshPortable(
          emb.filter(col("vec_id") < 20), emb,
          topK = 5, tables = 4, nPlanes = 6)
        .orderBy("vec_id", "rnk")
    },
    Some("""WITH q AS (
              SELECT vec_id,
                list_transform(embedding, x -> GREATEST(0, LEAST(255,
                  CAST(floor(CAST(x AS DOUBLE) * 256.0 + 0.5) AS BIGINT)
                    + 128))) AS qv
              FROM embeddings),
            qe AS (
              SELECT vec_id, CAST(p.range + 1 AS INT) AS pos,
                     qv[CAST(p.range + 1 AS INT)] AS val
              FROM q, range(64) p),
            keys AS (
              SELECT t.range AS tbl, p.range AS pl,
                     CAST(d.range + 1 AS INT) AS pos,
                     md5(CAST(t.range AS VARCHAR) || ':'
                       || CAST(p.range AS VARCHAR) || ':'
                       || CAST(d.range AS VARCHAR)) AS h
              FROM range(4) t, range(6) p, range(64) d),
            hp AS (
              SELECT tbl, pl, pos,
                CAST((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
                  + (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)
                  - 128 AS BIGINT) AS coef
              FROM keys),
            dots AS (SELECT e.vec_id, c.tbl, c.pl,
                       CAST(SUM((e.val - 128) * c.coef) AS BIGINT) AS dt
                     FROM qe e JOIN hp c USING (pos) GROUP BY 1, 2, 3),
            bk AS (SELECT vec_id, tbl,
                     CAST(SUM(CASE WHEN dt > 0 THEN (1 << pl) ELSE 0 END)
                       AS BIGINT) AS bucket
                   FROM dots GROUP BY 1, 2),
            cand AS (SELECT DISTINCT a.vec_id AS qid, b.vec_id AS nn
                     FROM bk a JOIN bk b
                       ON b.tbl = a.tbl AND b.bucket = a.bucket
                         AND b.vec_id <> a.vec_id
                     WHERE a.vec_id < 20),
            dist AS (SELECT c.qid, c.nn,
                       CAST(SUM((x.val - y.val) * (x.val - y.val))
                         AS BIGINT) AS d
                     FROM cand c
                     JOIN qe x ON x.vec_id = c.qid
                     JOIN qe y ON y.vec_id = c.nn AND y.pos = x.pos
                     GROUP BY 1, 2)
            SELECT qid AS vec_id, nn AS nn_id, d AS dist2,
              CAST(rn AS INT) AS rnk
            FROM (SELECT qid, nn, d, row_number() OVER (
                    PARTITION BY qid ORDER BY d, nn) AS rn FROM dist)
            WHERE rn <= 5
            ORDER BY vec_id, rnk"""))
}
