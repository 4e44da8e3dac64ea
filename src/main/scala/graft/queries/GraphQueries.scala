package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, Graph, Similarity}
import graft.queries.Catalog.{QueryDef, duckCosine, sizedPartitions, withConfs}

/** Graph rows: [[graft.operators.Graph]] reachability, shortest paths,
  * PageRank, triangle counts and k-core, plus q69, the same reachability
  * walk through Spark's WITH RECURSIVE. */
object GraphQueries {

  /** PageRank centrality over the near-duplicate graph (d02's top-20
    * n-gram-Jaccard pairs as undirected edges), 3 rounds of
    * Graph.pageRankScaled's EXACT integer-arithmetic iteration. The
    * oracle re-derives the edge set AND unrolls all three rounds with
    * BIGINT `//` division — a hash match certifies the distributed
    * iteration (contribution split, damping arithmetic, truncation
    * points) bit-for-bit, something float PageRank could never pin. */
  private[queries] val d14 = QueryDef("d14_pagerank",
    (s, d) => {
      val edges = Dedup.ngramJaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text", 3, 0.0)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)
      graft.operators.Graph.pageRankScaled(edges, iters = 3)
        .select(col("id").as("doc_id"), col("pr"))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
                       FROM documents WHERE doc_id < 100),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    FLOOR(len(list_intersect(a.sh, b.sh)) /
                          len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5) / 10000 AS jaccard
                  FROM g a JOIN g b ON a.doc_id < b.doc_id
                  ORDER BY jaccard DESC, id_a, id_b LIMIT 20),
            dir AS (SELECT id_a AS src, id_b AS dst FROM e
                    UNION ALL SELECT id_b, id_a FROM e),
            deg AS (SELECT src, COUNT(*) AS deg FROM dir GROUP BY src),
            n AS (SELECT COUNT(*) AS n FROM deg),
            r0 AS (SELECT src AS id, CAST(1000000000000 // (SELECT n FROM n) AS BIGINT) AS pr FROM deg),
            it1 AS (SELECT d.dst AS id,
                      CAST(((15 * 1000000000000) // 100) // (SELECT n FROM n)
                        + (85 * SUM(r.pr // dg.deg)) // 100 AS BIGINT) AS pr
                    FROM r0 r JOIN deg dg ON r.id = dg.src
                    JOIN dir d ON d.src = r.id GROUP BY d.dst),
            it2 AS (SELECT d.dst AS id,
                      CAST(((15 * 1000000000000) // 100) // (SELECT n FROM n)
                        + (85 * SUM(r.pr // dg.deg)) // 100 AS BIGINT) AS pr
                    FROM it1 r JOIN deg dg ON r.id = dg.src
                    JOIN dir d ON d.src = r.id GROUP BY d.dst),
            it3 AS (SELECT d.dst AS id,
                      CAST(((15 * 1000000000000) // 100) // (SELECT n FROM n)
                        + (85 * SUM(r.pr // dg.deg)) // 100 AS BIGINT) AS pr
                    FROM it2 r JOIN deg dg ON r.id = dg.src
                    JOIN dir d ON d.src = r.id GROUP BY d.dst)
            SELECT id AS doc_id, pr FROM it3 ORDER BY doc_id"""))

  /** Exact per-vertex triangle counts (Graph.triangleCounts,
    * degree-ordered orientation) over the symmetrized 3-NN graph of the
    * first 100 embeddings. The oracle re-derives the k-NN edge set, the
    * (degree, id) orientation, wedge generation, and closure — certifying
    * that the oriented algorithm counts each triangle exactly once. */
  private[queries] val d17 = QueryDef("d17_triangles",
    (s, d) => {
      val emb = Tables.embeddings(s, d).filter(col("vec_id") < 100)
      val knn = Similarity.bruteForceKnn(emb, emb, 3)
      val edges = knn.select(least(col("vec_id"), col("nn_id")).as("id_a"),
          greatest(col("vec_id"), col("nn_id")).as("id_b"))
        .distinct()
      graft.operators.Graph.triangleCounts(edges).orderBy("id")
    },
    Some(s"""WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
                        FROM embeddings WHERE vec_id < 100),
             s AS (SELECT a.vec_id, b.vec_id AS nn_id, ROUND($duckCosine, 4) AS sim
                   FROM v a JOIN v b ON b.vec_id <> a.vec_id),
             r AS (SELECT vec_id, nn_id FROM (
                     SELECT vec_id, nn_id, ROW_NUMBER() OVER (
                       PARTITION BY vec_id ORDER BY sim DESC, nn_id) AS rn
                     FROM s) t WHERE rn <= 3),
             e AS (SELECT DISTINCT LEAST(vec_id, nn_id) AS a,
                     GREATEST(vec_id, nn_id) AS b FROM r),
             sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
             deg AS (SELECT a, COUNT(*) AS d FROM sym GROUP BY a),
             ori AS (SELECT s.a AS u, s.b AS v FROM sym s
                     JOIN deg d1 ON s.a = d1.a JOIN deg d2 ON s.b = d2.a
                     WHERE d1.d < d2.d OR (d1.d = d2.d AND s.a < s.b)),
             w AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z FROM ori e1
                   JOIN ori e2 ON e1.u = e2.u AND e1.v < e2.v),
             tri AS (SELECT x, y, z FROM w JOIN e ON e.a = w.y AND e.b = w.z)
             SELECT id, COUNT(*) AS n_tri FROM (
               SELECT UNNEST([x, y, z]) AS id FROM tri) t
             GROUP BY id ORDER BY id"""))

  /** The order–part bipartite graph: one edge per distinct (orderkey,
    * partkey) in lineitem, part ids offset into their own id space.
    * The relational graph every supply-chain blast-radius query walks. */
  private def orderPartEdges(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).select(col("l_orderkey").as("src"),
      (col("l_partkey") + lit(1000000000L)).as("dst")).distinct()

  /** d24: multi-source BFS over the order–part graph — every order/part
    * within 3 undirected hops of a high-value seed order, labeled with
    * its exact hop distance. The bounded-recursion class (WITH RECURSIVE
    * in SQL engines) as a driver-coordinated frontier loop; the oracle
    * IS a recursive CTE, so the fixpoint semantics are hash-certified
    * level by level. */
  private[queries] val d24 = QueryDef("d24_reachability",
    (s, d) => {
      val seeds = Tables.orders(s, d)
        .filter(col("o_totalprice") > 495000)
        .select(col("o_orderkey").as("id"))
      Graph.shortestHops(orderPartEdges(s, d), seeds, maxHops = 3)
        .orderBy("id")
    },
    Some("""WITH RECURSIVE
            e0 AS (SELECT DISTINCT l_orderkey AS a, 1000000000 + l_partkey AS b
                   FROM lineitem),
            dir AS (SELECT a AS src, b AS dst FROM e0
                    UNION ALL SELECT b, a FROM e0),
            seeds AS (SELECT o_orderkey AS id FROM orders
                      WHERE o_totalprice > 495000),
            walk(id, hops) AS (
              SELECT id, 0 FROM seeds
              UNION
              SELECT d.dst, w.hops + 1 FROM walk w
              JOIN dir d ON d.src = w.id WHERE w.hops < 3)
            SELECT id, CAST(MIN(hops) AS INT) AS hops FROM walk
            GROUP BY id ORDER BY id""",
    ), bench = true)

  /** d25: hop-bounded weighted shortest paths (Bellman–Ford, 4 rounds)
    * over the document near-duplicate similarity graph — edge weight
    * 10000 − jaccard·10000 (integer "dissimilarity"), multi-source from
    * docs {0,1,2}. Distances are exact BIGINTs, so min-over-paths is
    * hash-certified against the recursive-CTE path enumeration. */
  private[queries] val d25 = QueryDef("d25_shortest_paths",
    (s, d) => {
      val edges = Dedup.ngramJaccardPairs(
          Tables.documents(s, d).filter(col("doc_id") < 100),
          "doc_id", "text", 3, 0.0)
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(60)
        .select(col("id_a").as("src"), col("id_b").as("dst"),
          (lit(10000L) - floor(col("jaccard") * 10000 + 0.5).cast("long"))
            .as("w"))
      val seeds = s.range(3).select(col("id"))
      Graph.boundedShortestPaths(edges, seeds, rounds = 4)
        .select(col("id").as("doc_id"), col("dist"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            w AS (SELECT doc_id, list_filter(
                    regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                    x -> x <> '') AS w
                  FROM documents WHERE doc_id < 100),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            e AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    FLOOR(len(list_intersect(a.sh, b.sh)) /
                          len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5)
                      / 10000 AS jaccard
                  FROM g a JOIN g b ON a.doc_id < b.doc_id
                  ORDER BY jaccard DESC, id_a, id_b LIMIT 60),
            we AS (SELECT id_a, id_b,
                     CAST(10000 - FLOOR(jaccard * 10000 + 0.5) AS BIGINT) AS w
                   FROM e),
            dir AS (SELECT id_a AS src, id_b AS dst, w FROM we
                    UNION ALL SELECT id_b, id_a, w FROM we),
            walk(id, dist, hops) AS (
              SELECT UNNEST([0, 1, 2]), CAST(0 AS BIGINT), 0
              UNION
              SELECT d.dst, wk.dist + d.w, wk.hops + 1 FROM walk wk
              JOIN dir d ON d.src = wk.id WHERE wk.hops < 4)
            SELECT id AS doc_id, MIN(dist) AS dist FROM walk
            GROUP BY id ORDER BY doc_id"""), bench = true)

  /** q69: d24's 3-hop multi-source reachability, written as WITH
    * RECURSIVE through spark.sql — the front-end a SQL user would reach
    * for. Per-level DISTINCT keeps each iteration at most |V| rows (the
    * scalable BFS shape, not path enumeration); Spark 4.1 supports only
    * UNION ALL recursion, so the level-set dedup + final MIN(hops) does
    * the fixpoint's work, identically on both engines. d24's
    * driver-coordinated frontier loop (checkpointed edges, settled-set
    * anti-join) remains the 100 TB path; this certifies the SQL surface
    * against the same oracle shape. */
  private[queries] val q69 = QueryDef("q69_recursive_sql",
    (s, d) => {
      // raise the recursion SAFETY VALVE: the walk's cumulative row count
      // legitimately passes the 1M default at sf>=1 (level sets are
      // |V|-bounded, but V itself is millions). Monotone guardrail, not
      // semantics. The limit is read at EXECUTION, so the builder forces
      // the (bounded, ordered) recursion eagerly via localCheckpoint, and
      // `withConfs` restores the conf — the raised valve never outlives
      // this build (HygieneSpec pins the restore).
      withConfs(s, "spark.sql.cteRecursionRowLimit" -> "200000000") {
        // Pin the edge relation ONCE (d24's "edges checkpointed" rule
        // applied to the SQL front-end): a plain CTE is inlined into the
        // recursive step, so `dir` as a CTE would re-scan lineitem and
        // re-run the DISTINCT shuffle on EVERY iteration — 4x the dominant
        // cost. Built eagerly here and registered as the view the
        // recursion joins, each iteration reads the materialized blocks.
        val e0 = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("a"),
            (lit(1000000000L) + col("l_partkey")).as("b"))
          .distinct()
        // mirror via explode (Graph.mirror): ONE distinct feeds both
        // directions — the union-of-two-projections form re-ran the
        // lineitem scan + distinct once per branch (r21 d28 profile).
        // Pins.pin (block-truth leaf stats), not bare localCheckpoint:
        // the explode's origin-plan estimate would otherwise trip the
        // sizing rule's activation band (SizingFlatAtGateSpec). A
        // columnar-cache pin was ALSO measured here (r21): the recursion
        // re-plans the step against the InMemoryRelation per level and
        // the wall DOUBLED (6.7s vs 3.2s best-of-3) — the row-block
        // checkpoint leaf stays.
        // pinHashed on src (r22, the kCore/shortestHops edge-pin layout
        // applied to the recursion): the pinned edge table is hash-laid
        // on the join key and the LogicalRDD CARRIES that layout (under
        // AQE a plain localCheckpoint records UnknownPartitioning), so
        // every recursion level's join on d.src = w.id sees the edge
        // side already partitioned and plans NO dir-side exchange — the
        // r22 profile showed each of the 5 levels re-reading the 100 MB
        // pin AND re-shuffling it (12.9 MB write + read + hash per
        // level). One exchange at build buys one elided one per level.
        // The partition count is DATA-DERIVED with the session conf as
        // cap (the s22 state-partition rule, guide §2): a fixed 32 was
        // measured SLOWER at sf0.1 (+0.25s/level of per-task re-read
        // overhead on a 13 MB pin) — at cluster scale the cap governs.
        val mirrored = graft.operators.Graph.mirror(
          e0.select(col("a").as("src"), col("b").as("dst")))
        val dir = graft.plans.Pins.pinHashed(mirrored,
          sizedPartitions(s, mirrored), col("src"))
        Catalog.scopedSql(s,
        Seq("graft_q69_dir" -> dir,
          "graft_q69_orders" -> Tables.orders(s, d)),
        """WITH RECURSIVE
           seeds AS (SELECT o_orderkey AS id FROM graft_q69_orders
                     WHERE o_totalprice > 495000),
           walk(id, hops) AS (
             SELECT id, 0 FROM seeds
             UNION ALL
             SELECT DISTINCT d.dst, w.hops + 1 FROM walk w
             JOIN graft_q69_dir d ON d.src = w.id WHERE w.hops < 3)
           SELECT id, CAST(MIN(hops) AS INT) AS hops FROM walk
           GROUP BY id ORDER BY id""").localCheckpoint(true)
      }
    },
    Some("""WITH RECURSIVE
            e0 AS (SELECT DISTINCT l_orderkey AS a,
                     1000000000 + l_partkey AS b FROM lineitem),
            dir AS (SELECT a AS src, b AS dst FROM e0
                    UNION ALL SELECT b, a FROM e0),
            seeds AS (SELECT o_orderkey AS id FROM orders
                      WHERE o_totalprice > 495000),
            walk(id, hops) AS (
              SELECT id, 0 FROM seeds
              UNION ALL
              SELECT DISTINCT dir.dst, w.hops + 1 FROM walk w
              JOIN dir ON dir.src = w.id WHERE w.hops < 3)
            SELECT id, CAST(MIN(hops) AS INT) AS hops FROM walk
            GROUP BY id ORDER BY id"""), bench = true)

  /** The d28 oracle: the k-core peeling fixpoint UNROLLED to `rounds`
    * identical SQL rounds (degree filter + both-endpoints edge
    * restriction). Rounds past convergence are no-ops, so the unrolled
    * form equals the fixpoint whenever the cascade converges within
    * `rounds` — which the OPERATOR enforces (Graph.kCore raises past
    * maxRounds), making "oracle deep enough" a loud failure instead of a
    * silent divergence. */
  private def kCoreOracle(rounds: Int, k: Int): String = {
    // AS MATERIALIZED is load-bearing: every round references the prior
    // round twice, so inlined CTEs would expand the plan ~3^rounds scans
    val sb = new StringBuilder(
      """WITH e0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS a,
                1000000000 + l_partkey AS b FROM lineitem),
         d0 AS MATERIALIZED (SELECT a AS src, b AS dst FROM e0
                UNION ALL SELECT b, a FROM e0)""")
    for (i <- 1 to rounds) {
      sb ++= s""",
         n$i AS MATERIALIZED (SELECT src AS node FROM d${i - 1}
                GROUP BY src HAVING COUNT(*) >= $k),
         d$i AS MATERIALIZED (SELECT d.src, d.dst FROM d${i - 1} d
                JOIN n$i x ON x.node = d.src
                JOIN n$i y ON y.node = d.dst)"""
    }
    sb ++= s"\n SELECT DISTINCT src AS id FROM d$rounds ORDER BY id"
    sb.result()
  }

  /** d28 — k-core decomposition (Graph.kCore) on the d24/q69 bipartite
    * order↔part graph at k=6: a 10-round peel cascade at sf0.01 (12 at
    * sf0.1), so the iterated fixpoint — not just one degree filter — is
    * what the oracle certifies. The density filter for duplicate graphs:
    * template communities survive, incidental links peel away. */
  private[queries] val d28 = QueryDef("d28_kcore",
    (s, d) => {
      val e0 = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("src"),
          (lit(1000000000L) + col("l_partkey")).as("dst"))
        .distinct()
      graft.operators.Graph.kCore(e0, k = 6, maxRounds = 20).orderBy("id")
    },
    Some(kCoreOracle(rounds = 20, k = 6)), bench = true)
}
