package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Dedup, TextAnalysis}
import graft.queries.Catalog.QueryDef

/** Dedup rows: exact, normalized, MinHash-LSH, SimHash, n-gram, span and
  * incremental dedup ([[graft.operators.Dedup]]), their duplicate-cluster
  * closures, and the end-to-end d11 curation pipeline. */
object DedupQueries {

  private[queries] val d01 = QueryDef("d01_dedup_exact",
    (s, d) => Dedup.exact(Tables.documents(s, d), "doc_id", "text")
      .orderBy("keep_id"),
    Some("""SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM documents GROUP BY text ORDER BY keep_id"""),
    bench = true)

  /** Normalized-exact dedup (Dedup.normalizedExact) — the "fuzzy-exact"
    * tier between d01 and MinHash: lowercase + strip-to-letters/digits +
    * whitespace collapse, then the d01 group shape. The fixture plants
    * uppercase re-encodes (+70000) and punctuation/whitespace-polluted
    * copies (+71000) of the first 10 docs; both variant families MUST
    * collapse into their source's group, and any natural case/punct
    * near-copies merge identically. The oracle replays the normalization
    * (unicode classes, global replace) and the grouping. */
  private[queries] val d23 = QueryDef("d23_normalized_dedup",
    (s, d) => {
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val variants = docs.filter(col("doc_id") < 10)
        .select((col("doc_id") + 70000).as("doc_id"),
          upper(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") < 10)
          .select((col("doc_id") + 71000).as("doc_id"),
            concat(col("text"), lit("  ... !!!")).as("text")))
      graft.operators.Dedup.normalizedExact(
          docs.unionByName(variants), "doc_id", "text")
        .orderBy("keep_id")
    },
    Some("""WITH allx AS (SELECT doc_id, text FROM documents
              UNION ALL SELECT doc_id + 70000, UPPER(text)
                FROM documents WHERE doc_id < 10
              UNION ALL SELECT doc_id + 71000, text || '  ... !!!'
                FROM documents WHERE doc_id < 10),
            n AS (SELECT doc_id,
                TRIM(regexp_replace(regexp_replace(LOWER(text),
                  '[^\p{L}\p{N} \t\n]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
              FROM allx)
            SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
            FROM n GROUP BY nt ORDER BY keep_id"""))

  private[queries] val d02 = QueryDef("d02_ngram_topk",
    (s, d) => Dedup.ngramJaccardPairs(
        Tables.documents(s, d).filter(col("doc_id") < 100), "doc_id", "text", 3, 0.0)
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(20),
    Some("""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
                       FROM documents WHERE doc_id < 100),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
              FLOOR(len(list_intersect(a.sh, b.sh)) /
                    len(list_distinct(list_concat(a.sh, b.sh))) * 10000 + 0.5) / 10000 AS jaccard
            FROM g a JOIN g b ON a.doc_id < b.doc_id
            ORDER BY jaccard DESC, id_a, id_b LIMIT 20"""))

  private[queries] val d03 = QueryDef("d03_minhash_lsh",
    (s, d) => Dedup.minhashTopPairs(Tables.documents(s, d), "doc_id", "text"),
    None, bench = true)

  private[queries] val d04 = QueryDef("d04_simhash",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFns.simhash64(col("text")).as("simhash"))
      .orderBy("doc_id"),
    None)

  /** Oracle-checkable twin of d04: the md5-token-hash SimHash, re-derived
    * bit-for-bit by the DuckDB oracle (the xxhash64 variant d04 stays
    * rows-only — its hash is engine-native). */
  private[queries] val d08 = QueryDef("d08_simhash_portable",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"),
        graft.functions.TextFns.simhashPortable(col("text")).as("simhash"))
      .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
               FROM documents),
            tok AS (SELECT doc_id, UNNEST(w) AS word FROM t),
            h AS (SELECT doc_id,
                    ('0x' || substring(md5(word), 1, 15))::BIGINT AS h FROM tok),
            bits AS (SELECT doc_id, j.range AS j,
                       SUM(CASE WHEN (h >> CAST(j.range AS INT)) & 1 = 1
                                THEN 1 ELSE -1 END) AS c
                     FROM h, range(60) j GROUP BY doc_id, j.range),
            sig AS (SELECT doc_id,
                      SUM(CASE WHEN c > 0
                               THEN (1::BIGINT << CAST(j AS INT)) ELSE 0 END)
                        AS simhash
                    FROM bits GROUP BY doc_id)
            SELECT doc_id, CAST(simhash AS BIGINT) AS simhash
            FROM sig ORDER BY doc_id"""))

  /** Pairs -> duplicate clusters (connected components), the survivor-
    * selection step after near-dup pair generation. Spark runs LSH +
    * min-label propagation; the oracle recomputes all >= 0.7 pairs
    * exactly and closes them with a recursive CTE — a hash match
    * certifies BOTH the LSH pair recall and the clustering. */
  private[queries] val d09 = QueryDef("d09_dup_clusters",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleN = 3, k = 128, bands = 32, threshold = 0.7)
      Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
                  FROM documents WHERE doc_id < 200),
            g AS (SELECT doc_id, list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM g a JOIN g b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.sh, b.sh)) /
                        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
            reach(a, b) AS (SELECT a, b FROM e
                            UNION
                            SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
            FROM reach GROUP BY a ORDER BY doc_id"""))

  /** Same clustering contract as d09 but via the O(log n)-round
    * large-star/small-star edge rewriting (the extreme-diameter scale
    * path). The oracle is the independent recursive-CTE closure, so a
    * hash match certifies the star algorithm end-to-end — including that
    * it agrees with min-label propagation (d09) on the same contract. */
  private[queries] val d10 = QueryDef("d10_cc_star",
    (s, d) => {
      val docs = Tables.documents(s, d).filter(col("doc_id") < 300)
      val pairs = Dedup.minhashLsh(docs, "doc_id", "text",
        shingleN = 3, k = 128, bands = 32, threshold = 0.7)
      Dedup.connectedComponentsStar(pairs.select("id_a", "id_b"))
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
                  FROM documents WHERE doc_id < 300),
            g AS (SELECT doc_id, list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                  FROM g a JOIN g b ON a.doc_id < b.doc_id
                  WHERE len(list_intersect(a.sh, b.sh)) /
                        len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
            reach(a, b) AS (SELECT a, b FROM e
                            UNION
                            SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a)
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
            FROM reach GROUP BY a ORDER BY doc_id"""))

  /** FLAGSHIP end-to-end training-data-prep pipeline, the composition a
    * 100 TB corpus actually runs: exact dedup (one hash agg) -> MinHash-LSH
    * near-dup pairs over the survivors -> connected-components cluster
    * labels -> survivor selection (component minimum) -> token counting ->
    * language ID. The oracle independently re-derives EVERY stage in
    * DuckDB (min-per-text dedup, complete exact Jaccard via a
    * shingle-keyed self-join — complete at the 0.7 threshold because any
    * pair with Jaccard > 0 shares a shingle, see d06 — recursive-CTE
    * closure, the t05/t06 tokenization and stopword-argmax fragments), so
    * one hash match certifies the whole chain composes correctly. */
  private[queries] val d11 = QueryDef("d11_pipeline",
    (s, d) => {
      val uniq = Dedup.exactRows(Tables.documents(s, d), "doc_id", "text")
      val pairs = Dedup.minhashLsh(uniq, "doc_id", "text",
        shingleN = 3, k = 128, bands = 32, threshold = 0.7)
      val dupes = Dedup.duplicateClusters(pairs.select("id_a", "id_b"))
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("doc_id"))
      val kept = uniq.join(dupes, Seq("doc_id"), "left_anti")
      // ONE projection for language id + token count (r22): the previous
      // shape joined languageId(kept) with toks(kept) on doc_id — a
      // self-join of identical rows that re-derived the whole kept chain
      // (exact-dedup agg + anti join over the corpus) once per branch
      // (d11 sf10 profile: ~1.7s of duplicate jobs) and paid a join that
      // unique doc_ids make a no-op. Same expressions (TextFns.langId is
      // exactly what TextAnalysis.languageId selects), same rows, same
      // oracle.
      kept.select(col("doc_id"),
          graft.functions.TextFns.langId(col("text")).as("pred_lang"),
          size(graft.functions.TextFns.words(col("text"))).cast("int").as("n_tokens"))
        .filter(col("n_tokens") >= 5)
        .select("doc_id", "pred_lang", "n_tokens")
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            uniq AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text),
            u AS (SELECT dd.doc_id, dd.text FROM documents dd
                  JOIN uniq ON dd.doc_id = uniq.doc_id),
            w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w FROM u),
            g AS (SELECT doc_id, list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            ptok AS (SELECT doc_id, UNNEST(sh) AS t, len(sh) AS sz FROM g),
            p AS (SELECT id_a, id_b FROM (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                      COUNT(*) AS inter,
                      ANY_VALUE(a.sz) AS sa, ANY_VALUE(b.sz) AS sb
                    FROM ptok a JOIN ptok b ON a.t = b.t AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
                  WHERE inter / (sa + sb - inter) >= 0.7),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
            reach(a, b) AS (SELECT a, b FROM e
                            UNION
                            SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
            lbl AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
                    FROM reach GROUP BY a),
            kept AS (SELECT u.doc_id, u.text FROM u
                     LEFT JOIN lbl ON u.doc_id = lbl.doc_id
                     WHERE lbl.doc_id IS NULL OR lbl.doc_id = lbl.cluster_id),
            lw AS (SELECT doc_id,
                     list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
                   FROM kept),
            b AS (SELECT doc_id, list_sort([
                 {'score': len(list_filter(w, x -> list_contains(
                    ['the','a','of','and','to','in','is','it','that','for'], x))),
                  'lang': 'en'},
                 {'score': len(list_filter(w, x -> list_contains(
                    ['der','die','das','und','ist','nicht','ein','mit','auf','zu'], x))),
                  'lang': 'de'},
                 {'score': len(list_filter(w, x -> list_contains(
                    ['el','la','de','que','y','en','un','es','no','por'], x))),
                  'lang': 'es'},
                 {'score': len(list_filter(w, x -> list_contains(
                    ['le','la','de','et','est','un','une','que','pour','dans'], x))),
                  'lang': 'fr'}])[4] AS best
               FROM lw),
            lang AS (SELECT doc_id,
                CASE WHEN struct_extract(best, 'score') > 0
                     THEN struct_extract(best, 'lang') ELSE 'und' END AS pred_lang
              FROM b),
            tok AS (SELECT doc_id,
                CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS INT) AS n_tokens
              FROM kept)
            SELECT lang.doc_id, lang.pred_lang, tok.n_tokens
            FROM lang JOIN tok ON lang.doc_id = tok.doc_id
            WHERE tok.n_tokens >= 5
            ORDER BY lang.doc_id"""),
    // bench-flagged since round 19: the flagship pipeline's composed plan
    // is now stage-materialized (duplicateClusters pins its edge set —
    // D11_AB_sf10_r19.json) and its sf0.1 wall belongs in the headline set
    bench = true)

  /** Direct cross-engine certificate of the LSH BANDING stage (d03/d06's
    * candidate generator, previously certified only transitively through
    * d06's all-pairs oracle): md5-portable MinHash signatures and band
    * digests run through the production bucket-groupBy + pair-expansion
    * path, and DuckDB re-derives every signature component, band slice,
    * bucket key, and pair multiplicity independently. A hash match pins
    * the banding arithmetic itself — slice boundaries, band indexing,
    * bucket join semantics — not just the downstream verified pairs. */
  private[queries] val d12 = QueryDef("d12_lsh_portable",
    (s, d) => Dedup.lshCandidatesPortable(Tables.documents(s, d),
        "doc_id", "text", shingleN = 3, k = 16, bands = 4)
      .orderBy("id_a", "id_b"),
    Some("""WITH w AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
               FROM documents),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            ne AS (SELECT doc_id, sh FROM g WHERE len(sh) > 0),
            sig AS (SELECT doc_id, list_transform(range(16), i ->
                      list_min(list_transform(sh, s ->
                        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s), 1, 15))::BIGINT)))
                      AS sig
                    FROM ne),
            bd AS (SELECT doc_id, CAST(b.range AS INT) AS band,
                     md5(array_to_string(
                       sig[CAST(b.range AS INT)*4+1 : CAST(b.range AS INT)*4+4], ','))
                       AS digest
                   FROM sig, range(4) b)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_bands
            FROM bd a JOIN bd b
              ON a.band = b.band AND a.digest = b.digest AND a.doc_id < b.doc_id
            GROUP BY 1, 2 ORDER BY id_a, id_b"""))

  /** Edit-distance near-dup verification (Dedup.editDistanceVerify): ten
    * suffix-modified copies are planted (ids 10000+), all pairs of the
    * <60 slice + clones are scored by normalized Levenshtein, top-50 by
    * (sim desc, ids). The oracle recomputes every distance with its own
    * Wagner-Fischer — a hash match certifies Spark's levenshtein and the
    * normalization bit-for-bit (planted pairs land ~0.93, the natural
    * ceiling is 0.41). */
  private[queries] val d18 = QueryDef("d18_edit_neardup",
    (s, d) => {
      val base = Tables.documents(s, d)
        .select("doc_id", "text").filter(col("doc_id") < 60)
      val planted = base.filter(col("doc_id") < 10)
        .select((col("doc_id") + 10000).as("doc_id"),
          concat(col("text"), lit(" tail edit marker")).as("text"))
      val docs = base.unionByName(planted)
      val pairs = docs.as("a").join(docs.as("b"),
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      Dedup.editDistanceVerify(pairs, docs)
        .orderBy(col("edit_sim").desc, col("id_a"), col("id_b"))
        .limit(50)
    },
    Some("""WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 60),
            pl AS (SELECT doc_id + 10000 AS doc_id,
                     text || ' tail edit marker' AS text
                   FROM base WHERE doc_id < 10),
            d AS (SELECT * FROM base UNION ALL SELECT * FROM pl),
            p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                    FLOOR((1 - CAST(levenshtein(a.text, b.text) AS DOUBLE) /
                      GREATEST(LENGTH(a.text), LENGTH(b.text), 1))
                      * 10000 + 0.5) / 10000 AS edit_sim
                  FROM d a JOIN d b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, edit_sim FROM p
            ORDER BY edit_sim DESC, id_a, id_b LIMIT 50"""))

  /** Template-collapse near-dup clustering (Dedup.minhashLshClusters):
    * exact duplicates collapse to their min-id representative BEFORE LSH
    * banding (planted 3-copy template groups prove it), near-dup pairs
    * run over distinct texts only, and members rejoin the cluster through
    * (rep -> member) edges — the linear-in-pileup composition a
    * template-heavy corpus needs. The oracle re-derives every stage
    * independently: digest groups via GROUP BY text, near pairs via
    * all-pairs exact shingle Jaccard over the representatives (recall-1
    * regime, as certified for d06), the closure via a recursive CTE — so
    * a hash match certifies collapse, banding, edge union AND clustering
    * end to end. */
  private[queries] val d19 = QueryDef("d19_collapse_clusters",
    (s, d) => {
      val base = Tables.documents(s, d).select("doc_id", "text")
        .filter(col("doc_id") < 150)
      val clones = (20000 to 30000 by 10000).map(off =>
        base.filter(col("doc_id") < 5)
          .select((col("doc_id") + off).as("doc_id"), col("text")))
      val docs = clones.foldLeft(base)(_ unionByName _)
      graft.operators.Dedup.minhashLshClusters(docs, "doc_id", "text",
          shingleN = 3, k = 128, bands = 32, threshold = 0.7)
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some("""WITH RECURSIVE
            base AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
            d AS (SELECT doc_id, text FROM base
                  UNION ALL SELECT doc_id + 20000, text FROM base WHERE doc_id < 5
                  UNION ALL SELECT doc_id + 30000, text FROM base WHERE doc_id < 5),
            r AS (SELECT text, MIN(doc_id) AS rep FROM d GROUP BY text),
            w AS (SELECT rep AS doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
                  FROM r),
            g AS (SELECT doc_id, list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            np AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                   FROM g a JOIN g b ON a.doc_id < b.doc_id
                   WHERE len(list_intersect(a.sh, b.sh)) /
                         len(list_distinct(list_concat(a.sh, b.sh))) >= 0.7),
            ex AS (SELECT r.rep AS id_a, d.doc_id AS id_b
                   FROM d JOIN r ON d.text = r.text WHERE d.doc_id <> r.rep),
            p AS (SELECT id_a, id_b FROM np UNION ALL SELECT id_a, id_b FROM ex),
            e AS (SELECT id_a AS a, id_b AS b FROM p
                  UNION ALL SELECT id_b, id_a FROM p),
            reach(a, b) AS (SELECT a, b FROM e
                            UNION
                            SELECT r2.a, e2.b FROM reach r2 JOIN e e2 ON r2.b = e2.a)
            SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
            FROM reach GROUP BY a ORDER BY doc_id"""))

  /** MinHash-LSH candidates verified by exact Jaccard; the oracle computes
    * the same threshold over EVERY pair with Jaccard > 0, so a hash-match
    * also certifies LSH recall=1 on this corpus (k=128, b=32, r=4 ->
    * P(miss | j>=0.7) < 1e-3). Candidate enumeration is a shingle-keyed
    * self-join (the d27-oracle pattern), which is provably complete at the
    * threshold: any pair with Jaccard >= 0.7 > 0 shares >= 1 shingle, and
    * a pair sharing none has Jaccard 0 and can never pass the filter.
    * inter/(sa+sb-inter) over the distinct-shingle counts is the same
    * BIGINT-division as len(list_intersect)/len(list_distinct(concat)),
    * so the emitted values are bit-identical to the former all-pairs form
    * (verified by an A/B diff at sf0.01 and sf0.1 when this was rewritten
    * in round 14; the rewrite makes the oracle tractable at sf1 — 50k docs
    * is 1.25B all-pairs but only ~21M shingle-join rows). */
  private[queries] val d06 = QueryDef("d06_minhash_neardup",
    (s, d) => Dedup.minhashLsh(Tables.documents(s, d), "doc_id", "text",
        shingleN = 3, k = 128, bands = 32, threshold = 0.7)
      .select(col("id_a"), col("id_b"),
        (floor(col("jaccard") * 10000 + 0.5) / 10000).as("jaccard"))
      .orderBy("id_a", "id_b"),
    Some("""WITH w AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w FROM documents),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            tok AS (SELECT doc_id, UNNEST(sh) AS t, len(sh) AS sz FROM g),
            pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                COUNT(*) AS inter,
                ANY_VALUE(a.sz) AS sa, ANY_VALUE(b.sz) AS sb
              FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
              FLOOR(inter / (sa + sb - inter) * 10000 + 0.5) / 10000 AS jaccard
            FROM pair
            WHERE inter / (sa + sb - inter) >= 0.7
            ORDER BY id_a, id_b"""),
    bench = true)

  private[queries] val d07 = QueryDef("d07_dedup_rows",
    (s, d) => Dedup.exactRows(Tables.documents(s, d), "doc_id", "text")
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM (
              SELECT doc_id, lang,
                ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
              FROM documents) t WHERE rn = 1 ORDER BY doc_id"""))

  /** Span-level exact-substring dedup (Dedup.spanDedup): every 10-token
    * window that occurs more than once in the corpus is excised except at
    * its canonical (smallest doc_id*1e6+pos) occurrence; covered tokens
    * drop and the text is rebuilt. The oracle replays the window digests,
    * the canonical pick and the coverage expansion, so the REWRITTEN TEXT
    * itself is hash-compared — not just the overlap statistics. */
  private[queries] val d20 = QueryDef("d20_span_dedup",
    (s, d) => graft.operators.Dedup.spanDedup(Tables.documents(s, d), n = 10)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                  x -> x <> '') AS w
              FROM documents),
            g0 AS (SELECT doc_id,
                UNNEST(list_transform(range(1, len(w) - 8),
                  i -> {'pos': i,
                        'dig': md5(array_to_string(list_slice(w, i, i + 9), ' '))}))
                  AS g
              FROM w WHERE len(w) >= 10),
            g AS (SELECT doc_id, g.pos AS pos, g.dig AS dig,
                doc_id * 4294967296 + g.pos AS packed FROM g0),
            sc AS (SELECT dig, COUNT(*) AS cnt, MIN(packed) AS canon
                   FROM g GROUP BY dig),
            rem AS (SELECT g.doc_id, g.pos FROM g JOIN sc USING (dig)
                    WHERE sc.cnt > 1 AND g.packed <> sc.canon),
            ss AS (SELECT doc_id, list_sort(list(pos)) AS s
                   FROM rem GROUP BY doc_id),
            k AS (SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens,
                list_filter(range(1, len(w.w) + 1),
                  i -> len(list_filter(COALESCE(ss.s, []),
                         x -> x <= i AND i < x + 10)) = 0) AS keep,
                w.w AS w
              FROM w LEFT JOIN ss USING (doc_id))
            SELECT doc_id, n_tokens,
              CAST(n_tokens - len(keep) AS BIGINT) AS n_removed,
              COALESCE(array_to_string(list_transform(keep, i -> w[i]), ' '), '')
                AS text_dedup
            FROM k ORDER BY doc_id"""),
    bench = true)

  /** Incremental dedup of a new batch vs an existing corpus
    * (Dedup.incrementalDedup): corpus = doc_id < 250, batch = the rest
    * plus 5 planted exact clones of corpus docs (the fixture's natural
    * clones sit on one side of the split, so the exact path needs
    * planting — the 12 natural cross-boundary near-dups exercise the LSH
    * path). The oracle replays the md5 digest index, the portable
    * MinHash/banding (d12's certified idioms), the candidate collisions
    * AND the Jaccard verification, so each batch doc's
    * exact/near/new status and its matched corpus id are hash-compared. */
  /** d21's corpus/batch fixture split, shared with the streaming twin
    * `s16` (which must classify the SAME batch docs and share the oracle). */
  private[queries] def d21Fixture(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") < 250)
    val batch = docs.filter(col("doc_id") >= 250)
      .unionByName(corpus.filter(col("doc_id") < 5)
        .select((col("doc_id") + 90000).as("doc_id"), col("text")))
    (corpus, batch)
  }

  private[queries] val d21 = QueryDef("d21_incremental_dedup",
    (s, d) => {
      val (corpus, batch) = d21Fixture(s, d)
      graft.operators.Dedup.incrementalDedup(corpus, batch)
        .orderBy("doc_id")
    },
    Some(d21Oracle), bench = true)

  private[queries] lazy val d21Oracle =
       """WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 250),
            b AS (SELECT doc_id, text FROM documents WHERE doc_id >= 250
                  UNION ALL
                  SELECT doc_id + 90000, text FROM documents WHERE doc_id < 5),
            cdig AS (SELECT md5(text) AS dig, MIN(doc_id) AS eid
                     FROM c GROUP BY 1),
            allx AS (SELECT * FROM c UNION ALL SELECT * FROM b),
            w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                  x -> x <> '') AS w
              FROM allx),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            ne AS (SELECT doc_id, sh FROM g WHERE len(sh) > 0),
            sig AS (SELECT doc_id, list_transform(range(16), i ->
                      list_min(list_transform(sh, s ->
                        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s),
                           1, 15))::BIGINT)))
                      AS sig
                    FROM ne),
            bd AS (SELECT doc_id, CAST(r.range AS INT) AS band,
                     md5(array_to_string(
                       sig[CAST(r.range AS INT)*4+1 : CAST(r.range AS INT)*4+4], ','))
                       AS digest
                   FROM sig, range(4) r),
            cand AS (SELECT DISTINCT bb.doc_id AS id, cb.doc_id AS cid
                     FROM bd bb JOIN bd cb
                       ON bb.band = cb.band AND bb.digest = cb.digest
                     WHERE bb.doc_id >= 250 AND cb.doc_id < 250),
            ver AS (SELECT cand.id, MIN(cand.cid) AS nid
                    FROM cand
                    JOIN ne s1 ON s1.doc_id = cand.id
                    JOIN ne s2 ON s2.doc_id = cand.cid
                    WHERE len(list_intersect(s1.sh, s2.sh)) * 1.0 /
                          len(list_distinct(list_concat(s1.sh, s2.sh)))
                          >= CAST(0.5 AS DOUBLE)
                    GROUP BY cand.id),
            ex AS (SELECT b.doc_id, cdig.eid FROM b
                   JOIN cdig ON md5(b.text) = cdig.dig)
            SELECT b.doc_id,
              CASE WHEN ex.eid IS NOT NULL THEN 'exact'
                   WHEN ver.nid IS NOT NULL THEN 'near'
                   ELSE 'new' END AS status,
              COALESCE(ex.eid, ver.nid) AS match_id
            FROM b LEFT JOIN ex USING (doc_id)
                   LEFT JOIN ver ON ver.id = b.doc_id
            ORDER BY doc_id"""

  /** The d21 classification replay as a reusable oracle CTE block:
    * classifies `batchCte` against `corpusCte` (digest index + portable
    * MinHash banding + Jaccard verify), emitting `${p}cls(doc_id, status,
    * match_id)`. Instantiated once per stage by d22's two-step oracle. */
  // `raw` interpolator: the \t \n \x0b in the tokenizer regex must reach
  // DuckDB as literal backslash escapes (same bytes as d21's plain """)
  private def incrClassifyCtes(p: String, corpusCte: String,
                               batchCte: String): String = raw""",
            ${p}cdig AS (SELECT md5(text) AS dig, MIN(doc_id) AS eid
                         FROM $corpusCte GROUP BY 1),
            ${p}allx AS (SELECT * FROM $corpusCte
                         UNION ALL SELECT * FROM $batchCte),
            ${p}w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                  x -> x <> '') AS w
              FROM ${p}allx),
            ${p}g AS (SELECT doc_id,
                list_distinct(list_transform(range(1, len(w)-1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
              FROM ${p}w),
            ${p}ne AS (SELECT doc_id, sh FROM ${p}g WHERE len(sh) > 0),
            ${p}sig AS (SELECT doc_id, list_transform(range(16), i ->
                      list_min(list_transform(sh, s ->
                        ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || s),
                           1, 15))::BIGINT)))
                      AS sig
                    FROM ${p}ne),
            ${p}bd AS (SELECT doc_id, CAST(r.range AS INT) AS band,
                     md5(array_to_string(
                       sig[CAST(r.range AS INT)*4+1 : CAST(r.range AS INT)*4+4],
                       ',')) AS digest
                   FROM ${p}sig, range(4) r),
            ${p}cand AS (SELECT DISTINCT bb.doc_id AS id, cb.doc_id AS cid
                     FROM ${p}bd bb JOIN ${p}bd cb
                       ON bb.band = cb.band AND bb.digest = cb.digest
                     WHERE bb.doc_id IN (SELECT doc_id FROM $batchCte)
                       AND cb.doc_id IN (SELECT doc_id FROM $corpusCte)),
            ${p}ver AS (SELECT ${p}cand.id, MIN(${p}cand.cid) AS nid
                    FROM ${p}cand
                    JOIN ${p}ne s1 ON s1.doc_id = ${p}cand.id
                    JOIN ${p}ne s2 ON s2.doc_id = ${p}cand.cid
                    WHERE len(list_intersect(s1.sh, s2.sh)) * 1.0 /
                          len(list_distinct(list_concat(s1.sh, s2.sh)))
                          >= CAST(0.5 AS DOUBLE)
                    GROUP BY ${p}cand.id),
            ${p}ex AS (SELECT b.doc_id, ${p}cdig.eid FROM $batchCte b
                   JOIN ${p}cdig ON md5(b.text) = ${p}cdig.dig),
            ${p}cls AS (SELECT b.doc_id,
              CASE WHEN e.eid IS NOT NULL THEN 'exact'
                   WHEN v.nid IS NOT NULL THEN 'near'
                   ELSE 'new' END AS status,
              COALESCE(e.eid, v.nid) AS match_id
            FROM $batchCte b LEFT JOIN ${p}ex e USING (doc_id)
                   LEFT JOIN ${p}ver v ON v.id = b.doc_id)"""

  /** Two-day crawl loop with INDEX MAINTENANCE (Dedup.updateDigestIndex /
    * updateBandIndex): batch 1 classifies against the corpus artifacts,
    * its accepted `new` docs are folded INTO the indexes, and batch 2
    * classifies against the grown indexes — so a batch-2 clone of a
    * batch-1 new doc must come back `exact` with the batch-1 id as its
    * match (planted: ids+95000), while a clone of an original corpus doc
    * still matches the corpus id (ids+96000). The oracle replays BOTH
    * stages, including deriving batch 1's new-doc set and rebuilding the
    * merged indexes, so the maintenance arithmetic itself is certified —
    * not just one classification. */
  private[queries] val d22 = QueryDef("d22_index_maintenance",
    (s, d) => {
      import graft.operators.Dedup._
      val docs = Tables.documents(s, d).select("doc_id", "text")
      val corpus = docs.filter(col("doc_id") < 200)
      val batch1 = docs.filter(col("doc_id") >= 200 && col("doc_id") < 350)
      val batch2 = docs.filter(col("doc_id") >= 350)
        .unionByName(docs.filter(col("doc_id") >= 200 && col("doc_id") < 205)
          .select((col("doc_id") + 95000).as("doc_id"), col("text")))
        .unionByName(docs.filter(col("doc_id") < 5)
          .select((col("doc_id") + 96000).as("doc_id"), col("text")))
      val dig1 = corpusDigestIndex(corpus)
      val band1 = corpusBandIndex(corpus)
      // lazy localCheckpoint: cls1 feeds both the output union and the
      // new-doc set for the index update — one computation, reclaimed
      // blocks (the minhashTopPairs pattern)
      val cls1 = incrementalDedupIndexed(dig1, band1, corpus, batch1)
        .localCheckpoint(false)
      val new1 = batch1.join(
        cls1.filter(col("status") === "new").select("doc_id"), Seq("doc_id"))
      val cls2 = incrementalDedupIndexed(
        updateDigestIndex(dig1, new1), updateBandIndex(band1, new1),
        corpus.unionByName(new1), batch2)
      cls1.withColumn("batch", lit(1))
        .unionByName(cls2.withColumn("batch", lit(2)))
        .select("batch", "doc_id", "status", "match_id")
        .orderBy("batch", "doc_id")
    },
    Some("""WITH c AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
            b1 AS (SELECT doc_id, text FROM documents
                   WHERE doc_id >= 200 AND doc_id < 350),
            b2 AS (SELECT doc_id, text FROM documents WHERE doc_id >= 350
                   UNION ALL
                   SELECT doc_id + 95000, text FROM documents
                   WHERE doc_id >= 200 AND doc_id < 205
                   UNION ALL
                   SELECT doc_id + 96000, text FROM documents WHERE doc_id < 5)"""
      + incrClassifyCtes("p1", "c", "b1") + """,
            n1 AS (SELECT b1.doc_id, b1.text FROM b1
                   JOIN p1cls USING (doc_id) WHERE status = 'new'),
            c2 AS (SELECT * FROM c UNION ALL SELECT * FROM n1)"""
      + incrClassifyCtes("p2", "c2", "b2") + """
            SELECT 1 AS batch, doc_id, status, match_id FROM p1cls
            UNION ALL
            SELECT 2 AS batch, doc_id, status, match_id FROM p2cls
            ORDER BY batch, doc_id"""))

  /** d26: sorted-neighborhood near-duplicate pairs
    * (Dedup.sortedNeighborhoodPairs — Hernández–Stolfo SNM): corpus
    * ranked by 16-char normalized-text prefix via the two-pass
    * distributed rank, pairs within 10 rank positions verified by
    * 3-shingle word Jaccard. The oracle replays the blocking rank, the
    * window pairing AND every shingle-Jaccard verify, so the candidate
    * generation and the verification are both hash-certified. */
  private[queries] val d26 = QueryDef("d26_snm_pairs",
    (s, d) => Dedup.sortedNeighborhoodPairs(Tables.documents(s, d),
        "doc_id", "text", window = 10, shingleN = 3, threshold = 0.3)
      .orderBy("id_a", "id_b"),
    Some("""WITH n AS (SELECT doc_id,
                TRIM(regexp_replace(regexp_replace(LOWER(text),
                  '[^\p{L}\p{N} \t\n]', ' ', 'g'), '\s+', ' ', 'g')) AS nt
              FROM documents),
            r AS (SELECT doc_id,
                ROW_NUMBER() OVER (ORDER BY substring(nt, 1, 16), doc_id)
                  AS rnk
              FROM n),
            w AS (SELECT doc_id, list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                x -> x <> '') AS w FROM documents),
            g AS (SELECT doc_id, list_distinct(list_transform(
                range(1, len(w)-1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            cand AS (SELECT a.doc_id AS ia, b.doc_id AS ib FROM r a
                     JOIN r b ON b.rnk > a.rnk AND b.rnk <= a.rnk + 10),
            j AS (SELECT ia, ib,
                FLOOR(len(list_intersect(x.sh, y.sh)) /
                      len(list_distinct(list_concat(x.sh, y.sh))) * 10000
                  + 0.5) / 10000 AS jaccard
              FROM cand JOIN g x ON x.doc_id = ia
                        JOIN g y ON y.doc_id = ib)
            SELECT LEAST(ia, ib) AS id_a, GREATEST(ia, ib) AS id_b, jaccard
            FROM j WHERE jaccard >= 0.3 ORDER BY id_a, id_b"""), bench = true)

  /** d27: EXACT set-similarity self-join via prefix filtering
    * (Dedup.prefixJaccardPairs — the AllPairs/PPJoin family): every
    * document pair with 3-shingle Jaccard >= 0.5, found with no
    * all-pairs stage — candidates come only from shared rarest-first
    * prefix tokens plus the length filter, then exact verification.
    * Complements the approximate scale paths (d03 LSH banding, d26 SNM
    * windowing): this one is provably COMPLETE at the threshold. The
    * oracle enumerates every pair sharing >= 1 shingle (a superset of
    * any Jaccard > 0 pair) with its exact intersection via a
    * shingle-keyed join + group-count — so completeness of the prefix
    * filter itself is what the hash check certifies. */
  private[queries] val d27 = QueryDef("d27_prefix_jaccard",
    (s, d) => Dedup.prefixJaccardPairs(Tables.documents(s, d),
        "doc_id", "text", shingleN = 3, threshold = 0.5)
      .orderBy("id_a", "id_b"),
    Some("""WITH w AS (SELECT doc_id, list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                x -> x <> '') AS w FROM documents),
            g AS (SELECT doc_id, list_distinct(list_transform(
                range(1, len(w)-1),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
              FROM w WHERE len(w) >= 3),
            tok AS (SELECT doc_id, UNNEST(sh) AS t, len(sh) AS sz FROM g),
            pair AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                COUNT(*) AS inter,
                ANY_VALUE(a.sz) AS sa, ANY_VALUE(b.sz) AS sb
              FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b,
              FLOOR(inter / (sa + sb - inter) * 10000 + 0.5) / 10000
                AS jaccard
            FROM pair
            WHERE FLOOR(inter / (sa + sb - inter) * 10000 + 0.5) / 10000
              >= 0.5
            ORDER BY id_a, id_b"""), bench = true)
}
