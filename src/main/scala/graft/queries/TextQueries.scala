package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Sampling, TextAnalysis}
import graft.queries.Catalog.QueryDef

/** Text rows: corpus statistics, language ID, tokenization and BPE,
  * quality and repetition signals, PII and boilerplate hygiene, BM25 and
  * LM scoring ([[graft.operators.TextAnalysis]]), and the corpus samplers
  * ([[graft.operators.Sampling]]). */
object TextQueries {

  private[queries] val q27 = QueryDef("q27_wordcount",
    (s, d) => TextAnalysis.wordFrequency(Tables.documents(s, d), "text", 20),
    Some("""SELECT word, COUNT(*) AS n FROM (
              SELECT UNNEST(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS word FROM documents) t
            WHERE word <> '' GROUP BY word ORDER BY n DESC, word LIMIT 20"""),
    bench = true)

  /** Cross-document duplicate 5-gram occurrence fraction (the Lee et al.
    * 2021 occurrence-weighted dedup signal — TextAnalysis.crossDocNgramDup).
    * The oracle re-derives per-doc gram counts, document frequency, and the
    * occurrence-weighted fraction from scratch; Spark groups on md5
    * digests, DuckDB on the raw grams — identical counts certify the
    * digest keying is a pure narrowing, not a semantic change. */
  private[queries] val d13 = QueryDef("d13_crossdoc_ngrams",
    (s, d) => graft.operators.TextAnalysis.crossDocNgramDup(
        Tables.documents(s, d), n = 5)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            g AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)-3),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4])) AS g
                  FROM w WHERE len(w) >= 5),
            pd AS (SELECT doc_id, g, COUNT(*) AS cnt FROM g GROUP BY doc_id, g),
            df AS (SELECT g, COUNT(*) AS ndocs FROM pd GROUP BY g)
            SELECT pd.doc_id,
              CAST(SUM(cnt) AS BIGINT) AS n_grams,
              CAST(SUM(CASE WHEN ndocs > 1 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup,
              FLOOR(SUM(CASE WHEN ndocs > 1 THEN cnt ELSE 0 END) * 1.0 / SUM(cnt)
                * 10000 + 0.5) / 10000 AS dup_frac
            FROM pd JOIN df USING (g)
            GROUP BY pd.doc_id ORDER BY doc_id"""))

  /** Round-6 corpus-hygiene pipeline, composed end-to-end: plant synthetic
    * PII -> redact (t17's regexes) -> Gopher repetition filter on the
    * REDACTED text (top_word_frac < 0.15 drops the templated tail) -> RAG
    * chunking of the survivors. Every stage is re-derived independently by
    * the oracle, so one hash match certifies the chain composes — stage
    * outputs feed the next stage's exact semantics (d11 is the dedup-side
    * flagship; this is its hygiene-side sibling). */
  private[queries] val d16 = QueryDef("d16_curate2",
    (s, d) => {
      val planted = Tables.documents(s, d).select(col("doc_id"),
        concat(col("text"), lit(" contact user"),
          col("doc_id").cast("string"), lit("@mail.example.com or call "),
          (col("doc_id") * 7919 + 1000000).cast("string")).as("text"))
      val red = graft.operators.TextAnalysis.piiRedact(planted)
        .select(col("doc_id"), col("redacted").as("text"))
      val rep = graft.operators.TextAnalysis.repetitionScores(red)
      val kept = red.join(
        rep.filter(col("top_word_frac") < 0.15).select("doc_id"),
        Seq("doc_id"))
      graft.operators.TextAnalysis.chunkDocs(kept, chunkTokens = 32, overlap = 8)
        .orderBy("doc_id", "chunk_idx")
    },
    Some("""WITH f AS (SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call '
                  || CAST(doc_id * 7919 + 1000000 AS VARCHAR) AS text
              FROM documents),
            red AS (SELECT doc_id,
                regexp_replace(regexp_replace(text,
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                  '[0-9]{6,}', '<NUM>', 'g') AS text
              FROM f),
            w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM red),
            rep AS (SELECT doc_id,
                CASE WHEN len(w) <= 0 THEN 0.0 ELSE
                  FLOOR(list_max(list_transform(list_distinct(w),
                      d -> len(list_filter(w, x -> x = d)))) * 1.0 / len(w)
                    * 10000 + 0.5) / 10000 END AS twf
              FROM w),
            kept AS (SELECT w.doc_id, w.w FROM w JOIN rep USING (doc_id)
                     WHERE twf < CAST(0.15 AS DOUBLE)),
            c AS (SELECT doc_id, UNNEST(list_transform(
                    range(0, ((len(w) - 1) // 24) + 1),
                    k -> {'k': k, 'ch': w[k*24+1 : k*24+32]})) AS u
                  FROM kept WHERE len(w) > 0)
            SELECT doc_id, CAST(u.k AS INT) AS chunk_idx,
              CAST(u.k * 24 AS INT) AS start_tok,
              CAST(len(u.ch) AS INT) AS n_tokens,
              array_to_string(u.ch, ' ') AS chunk
            FROM c ORDER BY doc_id, chunk_idx"""),
    bench = true)

  /** Multi-query BM25 retrieval join (TextAnalysis.bm25Retrieve): three
    * queries ranked against the corpus in one pass, top-5 each. The
    * oracle re-derives the shared tf/df tables over the union term set,
    * the per-(query, doc, term) Lucene-idf scores, and the per-query
    * ranking — certifying the retrieval JOIN shape, not just one query's
    * scoring (t19 is the single-query case). */
  private[queries] val x08 = QueryDef("x08_bm25_retrieve",
    (s, d) => graft.operators.TextAnalysis.bm25Retrieve(
        Tables.documents(s, d),
        Seq("q1" -> Seq("spark", "join"), "q2" -> Seq("hash", "table"),
          "q3" -> Seq("stream", "window", "fast")))
      .orderBy("query_id", "rnk"),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            st AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM w),
            c AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n,
                         (SELECT AVG(dl) FROM st) AS avgdl),
            qt(query_id, word) AS (VALUES
              ('q1', 'spark'), ('q1', 'join'),
              ('q2', 'hash'), ('q2', 'table'),
              ('q3', 'stream'), ('q3', 'window'), ('q3', 'fast')),
            tok AS (SELECT doc_id, UNNEST(w) AS word FROM w),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
                   WHERE word IN (SELECT DISTINCT word FROM qt)
                   GROUP BY doc_id, word),
            df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
            sc AS (SELECT qt.query_id, tf.doc_id,
                     ROUND(LN(1 + ((SELECT n FROM c) - df + 0.5) / (df + 0.5)) *
                       (tf * (1.2 + 1.0)) /
                       (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM c))), 4) AS s
                   FROM tf JOIN df USING (word)
                   JOIN st ON st.doc_id = tf.doc_id
                   JOIN qt ON qt.word = tf.word),
            agg AS (SELECT query_id, doc_id, ROUND(SUM(s), 4) AS bm25
                    FROM sc GROUP BY query_id, doc_id),
            r AS (SELECT query_id, doc_id, bm25,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY bm25 DESC, doc_id) AS rnk
                  FROM agg)
            SELECT query_id, doc_id, bm25, CAST(rnk AS INT) AS rnk
            FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"""))

  private[queries] val t01 = QueryDef("t01_text_stats",
    (s, d) => TextAnalysis.textStats(Tables.documents(s, d)).orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS INT) AS n_tokens,
              CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) AS INT) AS n_distinct,
              FLOOR(len(list_distinct(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) /
                    GREATEST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')), 1) * 10000 + 0.5) / 10000 AS ttr,
              CAST(LENGTH(text) AS INT) AS n_chars,
              FLOOR((LENGTH(text) - (len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) - 1)) /
                    GREATEST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')), 1) * 10000 + 0.5) / 10000 AS avg_word_len
            FROM documents ORDER BY doc_id"""),
    bench = true)

  private[queries] val t02 = QueryDef("t02_lang_dist",
    (s, d) => Tables.documents(s, d)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), round(avg(col("n_chars")), 2).as("avg_chars"))
      .orderBy("lang"),
    Some("""SELECT lang, COUNT(*) AS n, ROUND(AVG(n_chars), 2) AS avg_chars
            FROM documents GROUP BY lang ORDER BY lang"""))

  private[queries] val t03 = QueryDef("t03_fingerprint",
    (s, d) => Tables.documents(s, d)
      .select(col("doc_id"), md5(lower(col("text")).cast("binary")).as("fp_md5"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id, MD5(LOWER(text)) AS fp_md5
            FROM documents ORDER BY doc_id"""),
    bench = true)

  private[queries] val t04 = QueryDef("t04_quality",
    (s, d) => TextAnalysis.qualityScore(Tables.documents(s, d)).orderBy("doc_id"),
    Some("""SELECT doc_id, FLOOR((
              0.4 * LEAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) / 50.0, 1.0)
              + 0.3 * (len(list_distinct(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))) /
                       GREATEST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')), 1))
              + 0.3 * (LENGTH(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) /
                       GREATEST(LENGTH(text), 1))) * 10000 + 0.5) / 10000 AS quality
            FROM documents ORDER BY doc_id"""))

  private[queries] val t05 = QueryDef("t05_langid",
    (s, d) => TextAnalysis.languageId(Tables.documents(s, d)).orderBy("doc_id"),
    // argmax over per-language stopword hit counts; ties resolve to the
    // lexicographically greatest lang on BOTH sides (Spark greatest() on
    // (score, lang) structs == DuckDB list_sort of structs, last element)
    Some("""WITH w AS (SELECT doc_id,
                 list_filter(regexp_split_to_array(lower(text), '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
               FROM documents),
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
               FROM w)
            SELECT doc_id,
              CASE WHEN struct_extract(best, 'score') > 0
                   THEN struct_extract(best, 'lang') ELSE 'und' END AS pred_lang
            FROM b ORDER BY doc_id"""))

  /** Token counting; the unioned doc_id=-1 row contains tabs, a newline,
    * a VERTICAL TAB and a double space, pinning the tokenization CONTRACT
    * cross-engine: the engine splits on Java \s+ = [ \t\n\x0B\f\r]+
    * (dropping empties) and every oracle spells out that exact class —
    * RE2's \s EXCLUDES \x0B, so a literal '\s+' oracle would silently
    * count 'newline\x0Bvtab' as one token while the engine sees two. */
  private[queries] val t06 = QueryDef("t06_tokens",
    (s, d) => {
      import graft.functions.TextFns
      val tabRow = s.range(1).select(lit(-1L).as("doc_id"),
        lit("tab\tsep  and\nnewline\u000Bvtab\t.").as("text"))
      Tables.documents(s, d).select(col("doc_id"), col("text"))
        .unionByName(tabRow)
        .select(col("doc_id"),
          size(TextFns.words(col("text"))).cast("int").as("n_ws"),
          TextFns.tokenCount(col("text")).cast("int").as("n_re"))
        .orderBy("doc_id")
    },
    Some("""WITH docs AS (
              SELECT doc_id, text FROM documents
              UNION ALL
              SELECT -1, 'tab' || chr(9) || 'sep  and' || chr(10) ||
                         'newline' || chr(11) || 'vtab' || chr(9) || '.')
            SELECT doc_id,
              CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS INT) AS n_ws,
              CAST(len(regexp_extract_all(text, '\w+|[^\w \t\n\x0b\f\r]')) AS INT) AS n_re
            FROM docs ORDER BY doc_id"""))

  private[queries] val t07 = QueryDef("t07_tfidf",
    (s, d) => TextAnalysis.tfIdf(Tables.documents(s, d), 3)
      .filter(col("doc_id") < 50)
      .orderBy("doc_id", "rnk"),
    Some("""WITH w AS (SELECT doc_id, UNNEST(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS word FROM documents),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w WHERE word <> '' GROUP BY doc_id, word),
            df AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM w WHERE word <> '' GROUP BY word),
            s AS (SELECT doc_id, word,
                    ROUND(tf * LN((SELECT COUNT(*) FROM documents) / df), 4) AS tfidf
                  FROM tf JOIN df USING (word)),
            r AS (SELECT doc_id, word, tfidf,
                    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, word) AS rnk
                  FROM s)
            SELECT doc_id, word, tfidf, CAST(rnk AS INT) AS rnk
            FROM r WHERE rnk <= 3 AND doc_id < 50 ORDER BY doc_id, rnk"""),
    bench = true)

  private[queries] val t08 = QueryDef("t08_source_similarity",
    (s, d) => TextAnalysis.sourceSimilarity(Tables.documents(s, d))
      .orderBy("src_a", "src_b"),
    None)

  /** Exact counterpart of t08: the oracle certifies the inverted-index
    * pairwise Jaccard; t08's MinHash estimate of the SAME quantity is
    * spec-checked against this within sampling error (OperatorsSpec). */
  private[queries] val t09 = QueryDef("t09_source_sim_exact",
    (s, d) => TextAnalysis.sourceSimilarityExact(Tables.documents(s, d))
      .orderBy("src_a", "src_b"),
    Some("""WITH w AS (SELECT source, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w FROM documents),
            g AS (SELECT source, UNNEST(list_distinct(list_transform(
                    range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS sh FROM w),
            ds AS (SELECT DISTINCT source, sh FROM g),
            sz AS (SELECT source, COUNT(*) AS sz FROM ds GROUP BY source),
            iv AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS ni
                   FROM ds a JOIN ds b ON a.sh = b.sh AND a.source < b.source
                   GROUP BY 1, 2),
            pr AS (SELECT x.source AS src_a, y.source AS src_b,
                     x.sz AS sza, y.sz AS szb
                   FROM sz x JOIN sz y ON x.source < y.source)
            SELECT pr.src_a, pr.src_b,
              FLOOR(COALESCE(ni, 0) / (sza + szb - COALESCE(ni, 0)) * 10000 + 0.5)
                / 10000 AS jaccard
            FROM pr LEFT JOIN iv ON pr.src_a = iv.src_a AND pr.src_b = iv.src_b
            ORDER BY pr.src_a, pr.src_b"""))

  /** Deterministic 10% hash-gate sample — bit-stable across engines, so
    * the oracle re-derives the EXACT membership (rand()-based sampling
    * could never be cross-checked like this). */
  private[queries] val t10 = QueryDef("t10_hash_sample",
    (s, d) => graft.operators.Sampling.hashSample(
        Tables.documents(s, d), col("doc_id"), 100)
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM documents
            WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000 < 100
            ORDER BY doc_id"""))

  /** Stratified deterministic sample: exactly 5 docs per lang, chosen by
    * the stable hash order. */
  private[queries] val t11 = QueryDef("t11_stratified_sample",
    (s, d) => graft.operators.Sampling.stratifiedSample(
        Tables.documents(s, d), Seq(col("lang")), col("doc_id"), 5)
      .select("lang", "doc_id")
      .orderBy("lang", "doc_id"),
    Some("""SELECT lang, doc_id FROM (
              SELECT lang, doc_id, ROW_NUMBER() OVER (
                PARTITION BY lang
                ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                         doc_id) AS rn
              FROM documents) t
            WHERE rn <= 5 ORDER BY lang, doc_id"""))

  /** Sequence packing: documents assigned to ~512-token training bins in
    * 4 hash shards — exact-arithmetic bin ids, so the oracle re-derives
    * the packing bit-for-bit. */
  private[queries] val t12 = QueryDef("t12_seq_packing",
    (s, d) => {
      val docs = Tables.documents(s, d).withColumn("n_tok",
        size(graft.functions.TextFns.words(col("text"))).cast("long"))
      graft.operators.Sampling.packSequences(docs, col("doc_id"),
          col("n_tok"), budget = 512, shards = 4)
        .select(col("doc_id"), col("seq_id"), col("seq_offset"))
        .orderBy("doc_id")
    },
    Some("""WITH t AS (SELECT doc_id,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h,
                 CAST(len(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> ''))
                   AS BIGINT) AS n_tok
               FROM documents),
            c AS (SELECT doc_id, h % 4 AS shard, n_tok,
                    CAST(SUM(n_tok) OVER (PARTITION BY h % 4 ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) - n_tok AS cum
                  FROM t)
            SELECT doc_id, shard * 1099511627776 + cum // 512 AS seq_id,
              cum % 512 AS seq_offset
            FROM c ORDER BY doc_id"""))

  /** Approximate top-k words via the Misra-Gries summary, certified in the
    * GUARANTEED-EXACT regime: the corpus vocabulary (31 words) is far
    * below k = 256, so no decrement ever fires and every count is exact —
    * the oracle is the exact group-by. The approximate regime (adversarial
    * streams, merge error bounds) is property-tested in MisraGriesSpec. */
  /** Weighted sampling (A-ES) over power-of-two weight classes: the
    * priorities are nested correctly-rounded sqrts of the md5-derived
    * uniform, so the oracle re-derives the EXACT ranking bit-for-bit —
    * the corpus-mixture sampler ("upweight en 8x, de 4x, es 2x") with a
    * certified sample. */
  private[queries] val t14 = QueryDef("t14_weighted_sample",
    (s, d) => graft.operators.Sampling.weightedSample(
        Tables.documents(s, d), col("doc_id"),
        when(col("lang") === "en", 3).when(col("lang") === "de", 2)
          .when(col("lang") === "es", 1).otherwise(0), 40)
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""WITH u AS (SELECT doc_id, lang,
                (('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
                  / 1152921504606846976.0 AS u
              FROM documents),
            p AS (SELECT doc_id, lang,
                CASE WHEN lang = 'en' THEN sqrt(sqrt(sqrt(u)))
                     WHEN lang = 'de' THEN sqrt(sqrt(u))
                     WHEN lang = 'es' THEN sqrt(u)
                     ELSE u END AS p
              FROM u),
            top AS (SELECT doc_id, lang FROM p ORDER BY p DESC, doc_id LIMIT 40)
            SELECT doc_id, lang FROM top ORDER BY doc_id"""))

  private[queries] val t13 = QueryDef("t13_approx_topk",
    (s, d) => {
      import graft.functions.{MisraGriesAgg, TextFns}
      Tables.documents(s, d)
        .select(explode(TextFns.words(col("text"))).as("word"))
        .agg(MisraGriesAgg.approx_topk(col("word"), 256).as("tk"))
        .select(posexplode(col("tk")).as(Seq("pos", "e")))
        .filter(col("pos") < 20)
        .select(col("pos").cast("int").as("pos"),
          col("e.item").as("word"), col("e.cnt").as("cnt"))
        .orderBy("pos")
    },
    Some("""WITH w AS (SELECT UNNEST(list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                x -> x <> '')) AS word FROM documents),
            c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
            r AS (SELECT word, cnt,
                    ROW_NUMBER() OVER (ORDER BY cnt DESC, word) - 1 AS pos
                  FROM c)
            SELECT CAST(pos AS INT) AS pos, word, CAST(cnt AS BIGINT) AS cnt
            FROM r WHERE pos < 20 ORDER BY pos"""))

  /** Gopher-family repetition signals, fully re-derived by the oracle:
    * duplicate bigram/trigram fractions over the NON-distinct n-gram
    * multiset and the most-frequent-word fraction. Integer-ratio values
    * with midpoint-safe rounding — bit-deterministic cross-engine. */
  private[queries] val t15 = QueryDef("t15_repetition",
    (s, d) => graft.operators.TextAnalysis.repetitionScores(
        Tables.documents(s, d))
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            n AS (SELECT doc_id, w,
                list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2,
                list_transform(range(1, len(w)-1),
                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS g3
              FROM w)
            SELECT doc_id,
              CASE WHEN len(g2) <= 0 THEN 0.0 ELSE
                FLOOR((len(g2) - len(list_distinct(g2))) * 1.0 / len(g2)
                  * 10000 + 0.5) / 10000 END AS dup_bigram,
              CASE WHEN len(g3) <= 0 THEN 0.0 ELSE
                FLOOR((len(g3) - len(list_distinct(g3))) * 1.0 / len(g3)
                  * 10000 + 0.5) / 10000 END AS dup_trigram,
              CASE WHEN len(w) <= 0 THEN 0.0 ELSE
                FLOOR(list_max(list_transform(list_distinct(w),
                    d -> len(list_filter(w, x -> x = d)))) * 1.0 / len(w)
                  * 10000 + 0.5) / 10000 END AS top_word_frac
            FROM n ORDER BY doc_id"""))

  /** Benchmark decontamination: distinct-shingle overlap of every corpus
    * document against a (broadcast) benchmark set — the pre-training
    * eval-contamination check. The oracle recomputes the overlap from
    * scratch with an independent join. */
  private[queries] val t16 = QueryDef("t16_decontaminate",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.TextAnalysis.contamination(
          docs.filter(col("doc_id") >= 20), docs.filter(col("doc_id") < 20))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            g AS (SELECT doc_id, list_distinct(list_transform(range(1, len(w)-1),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM w),
            bench AS (SELECT DISTINCT UNNEST(sh) AS s FROM g WHERE doc_id < 20),
            corp AS (SELECT doc_id, UNNEST(sh) AS s FROM g WHERE doc_id >= 20)
            SELECT c.doc_id, COUNT(*) AS n_shared
            FROM corp c JOIN bench b ON c.s = b.s
            GROUP BY c.doc_id ORDER BY doc_id"""))

  /** PII redaction over documents with deterministic synthetic PII
    * appended (the corpus itself is PII-free): emails and long digit runs
    * replaced by typed tokens, per-doc match counts reported. Both the
    * fixture synthesis and both regexes are computed independently by the
    * oracle — RE2-compatible patterns so java.util.regex and DuckDB's RE2
    * agree (see TextAnalysis.EmailRe). */
  private[queries] val t17 = QueryDef("t17_pii_redact",
    (s, d) => graft.operators.TextAnalysis.piiRedact(
        Tables.documents(s, d).select(col("doc_id"),
          concat(col("text"), lit(" contact user"),
            col("doc_id").cast("string"), lit("@mail.example.com or call "),
            (col("doc_id") * 7919 + 1000000).cast("string")).as("text")))
      .orderBy("doc_id"),
    Some("""WITH f AS (SELECT doc_id,
                text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@mail.example.com or call '
                  || CAST(doc_id * 7919 + 1000000 AS VARCHAR) AS text
              FROM documents)
            SELECT doc_id,
              regexp_replace(regexp_replace(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '[0-9]{6,}', '<NUM>', 'g') AS redacted,
              CAST(len(regexp_extract_all(text,
                '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
              CAST(len(regexp_extract_all(text, '[0-9]{6,}')) AS INT) AS n_nums
            FROM f ORDER BY doc_id"""))

  /** C4-style boilerplate removal (TextAnalysis.removeBoilerplateChunks):
    * 3-word segments appearing in >= 3 distinct documents are dropped and
    * documents reassembled in order. The oracle re-derives segmentation,
    * document frequency, the drop set, and the ORDER-PRESERVING
    * reassembly (string_agg ORDER BY pos vs array_sort on (pos, chunk)
    * structs) — a hash match certifies the rebuild order, not just the
    * counts. */
  private[queries] val t18 = QueryDef("t18_boilerplate",
    (s, d) => graft.operators.TextAnalysis.removeBoilerplateChunks(
        Tables.documents(s, d), chunkWords = 3, maxDocs = 3)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            c AS (SELECT doc_id, UNNEST(list_transform(
                    range(0, CAST(CEIL(len(w) / 3.0) AS INT)),
                    i -> {'pos': i, 'chunk': array_to_string(w[i*3+1:i*3+3], ' ')})) AS u
                  FROM w WHERE len(w) > 0),
            cc AS (SELECT doc_id, u.pos AS pos, u.chunk AS chunk FROM c),
            df AS (SELECT chunk, COUNT(DISTINCT doc_id) AS ndocs FROM cc GROUP BY chunk)
            SELECT cc.doc_id,
              CAST(COUNT(*) AS INT) AS n_chunks,
              CAST(SUM(CASE WHEN ndocs >= 3 THEN 1 ELSE 0 END) AS INT) AS n_removed,
              COALESCE(string_agg(CASE WHEN ndocs < 3 THEN chunk END,
                ' ' ORDER BY pos), '') AS cleaned
            FROM cc JOIN df USING (chunk)
            GROUP BY cc.doc_id ORDER BY doc_id"""))

  /** BM25 retrieval (TextAnalysis.bm25) for a fixed 3-term query over the
    * corpus. The oracle recomputes dl/avgdl, tf, df, the Lucene idf, and
    * the saturation term independently; per-term scores round to 4
    * decimals before the doc sum so cross-engine summation order cannot
    * flip the top-20 ranking. */
  private[queries] val t19 = QueryDef("t19_bm25",
    (s, d) => graft.operators.TextAnalysis.bm25(
        Tables.documents(s, d), Seq("spark", "table", "join"), topK = 20),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            st AS (SELECT doc_id, CAST(len(w) AS DOUBLE) AS dl FROM w),
            c AS (SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n,
                         (SELECT AVG(dl) FROM st) AS avgdl),
            tok AS (SELECT doc_id, UNNEST(w) AS word FROM w),
            tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok
                   WHERE word IN ('spark','table','join') GROUP BY doc_id, word),
            df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
            sc AS (SELECT tf.doc_id,
                     ROUND(LN(1 + ((SELECT n FROM c) - df + 0.5) / (df + 0.5)) *
                       (tf * (1.2 + 1.0)) /
                       (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / (SELECT avgdl FROM c))), 4) AS s
                   FROM tf JOIN df USING (word) JOIN st ON st.doc_id = tf.doc_id)
            SELECT doc_id, ROUND(SUM(s), 4) AS bm25
            FROM sc GROUP BY doc_id ORDER BY bm25 DESC, doc_id LIMIT 20"""))

  /** CCNet-style LM quality scoring (TextAnalysis.ngramLmScore): a
    * Stupid-Backoff bigram LM trained on the doc_id % 5 = 0 slice scores
    * every document's cross-entropy. The oracle re-derives tokenization,
    * both count tables, the backoff arithmetic, and the scaled-BIGINT
    * log-prob summation — a hash match certifies the LM's probabilities
    * and the scoring joins bit-for-bit (the d14 exact-integer regime). */
  private[queries] val t20 = QueryDef("t20_lm_perplexity",
    (s, d) => {
      val docs = Tables.documents(s, d)
      graft.operators.TextAnalysis.ngramLmScore(
          docs, docs.filter(col("doc_id") % 5 === 0))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            rt AS (SELECT UNNEST(w) AS t FROM w WHERE doc_id % 5 = 0),
            uni AS (SELECT t, COUNT(*) AS c FROM rt GROUP BY t),
            tot AS (SELECT CAST(SUM(c) AS BIGINT) + CAST(COUNT(*) AS BIGINT) AS tv
                    FROM uni),
            rb AS (SELECT UNNEST(list_transform(range(1, len(w)),
                     i -> {'w1': w[i], 'w2': w[i+1]})) AS bg
                   FROM w WHERE doc_id % 5 = 0 AND len(w) >= 2),
            big AS (SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS c12
                    FROM rb GROUP BY 1, 2),
            db AS (SELECT doc_id, UNNEST(list_transform(range(1, len(w)),
                     i -> {'w1': w[i], 'w2': w[i+1]})) AS bg
                   FROM w WHERE len(w) >= 2),
            dbc AS (SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS cnt
                    FROM db GROUP BY 1, 2, 3),
            sc AS (SELECT doc_id, cnt,
                     CAST(FLOOR(LN(CASE WHEN c12 IS NOT NULL
                         THEN c12 * 1.0 / u1.c
                         ELSE CAST(0.4 AS DOUBLE) * (COALESCE(u2.c, 0) + 1)
                              / (SELECT tv FROM tot) END) * 10000 + 0.5)
                       AS BIGINT) AS lp
                   FROM dbc LEFT JOIN big USING (w1, w2)
                   LEFT JOIN uni u1 ON dbc.w1 = u1.t
                   LEFT JOIN uni u2 ON dbc.w2 = u2.t)
            SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_bigrams,
              FLOOR(-SUM(lp * cnt) * 1.0 / SUM(cnt) + 0.5) / 10000 AS cross_entropy
            FROM sc GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** Overlapping token-window chunking (TextAnalysis.chunkDocs, the RAG
    * segmentation step): 32-token windows every 24 tokens. The oracle
    * re-derives window starts, slicing, clipping, and reassembly; a hash
    * match certifies offsets and chunk text exactly. */
  private[queries] val t21 = QueryDef("t21_chunking",
    (s, d) => graft.operators.TextAnalysis.chunkDocs(
        Tables.documents(s, d), chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx"),
    Some("""WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            c AS (SELECT doc_id, UNNEST(list_transform(
                    range(0, ((len(w) - 1) // 24) + 1),
                    k -> {'k': k, 'ch': w[k*24+1 : k*24+32]})) AS u
                  FROM w WHERE len(w) > 0)
            SELECT doc_id, CAST(u.k AS INT) AS chunk_idx,
              CAST(u.k * 24 AS INT) AS start_tok,
              CAST(len(u.ch) AS INT) AS n_tokens,
              array_to_string(u.ch, ' ') AS chunk
            FROM c ORDER BY doc_id, chunk_idx"""))

  /** BPE tokenization (TextAnalysis.bpeTokenize through the native
    * BpeEncode expression) with an 8-entry ranked merge table that
    * exercises rank priority and CHAINED merges (a+r -> ar, ar+k -> ark;
    * t+h -> th, th+e -> the). The oracle replays the whole merge loop as a
    * recursive CTE — min-rank pair selection, all-occurrence merging,
    * termination — per distinct word, then re-derives the per-doc
    * reassembly; a hash match certifies the BPE loop, the dictionary
    * join-back, and ordered reassembly exactly. */
  /** The 8-entry ranked merge table t22/t32 share (rank priority +
    * CHAINED merges: a+r -> ar, ar+k -> ark; t+h -> th, th+e -> the). */
  private val t22Merges = Seq("a" -> "r", "t" -> "h", "ar" -> "k",
    "s" -> "p", "e" -> "r", "o" -> "w", "q" -> "u", "th" -> "e")

  /** t22's oracle CTE chain (recursive BPE merge loop per distinct word,
    * terminating at `done(word, t)` with `wp(doc_id, pos, word)` as the
    * occurrence table) — shared verbatim by t32's tokenize-then-pack. */
  private val t22Ctes = """WITH RECURSIVE
            w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w
              FROM documents),
            wp AS (SELECT doc_id, u.pos AS pos, u.word AS word FROM (
                     SELECT doc_id, UNNEST(list_transform(range(1, len(w)+1),
                       i -> {'pos': i, 'word': w[i]})) AS u FROM w) t),
            dict AS (SELECT DISTINCT word FROM wp),
            bpe AS (
              SELECT word,
                list_transform(range(1, length(word)+1), i -> word[i:i]) AS t
              FROM dict
              UNION ALL
              SELECT word,
                list_transform(list_filter(list_transform(range(1, len(t)+1),
                  i -> {'v': CASE WHEN i < len(t) AND COALESCE(list_position(
                           ['a|r','t|h','ar|k','s|p','e|r','o|w','q|u','th|e'],
                           t[i] || '|' || t[i+1]) = m, FALSE)
                         THEN t[i] || t[i+1] ELSE t[i] END,
                       'skip': COALESCE(i > 1 AND list_position(
                           ['a|r','t|h','ar|k','s|p','e|r','o|w','q|u','th|e'],
                           t[i-1] || '|' || t[i]) = m, FALSE)}),
                  s -> NOT s.skip), s -> s.v) AS t
              FROM (SELECT word, t,
                      list_min(list_filter(list_transform(range(1, len(t)),
                        i -> list_position(
                          ['a|r','t|h','ar|k','s|p','e|r','o|w','q|u','th|e'],
                          t[i] || '|' || t[i+1])), p -> COALESCE(p, 0) > 0)) AS m
                    FROM bpe) q
              WHERE m IS NOT NULL),
            done AS (SELECT word, t FROM (
                       SELECT word, t,
                         list_min(list_filter(list_transform(range(1, len(t)),
                           i -> list_position(
                             ['a|r','t|h','ar|k','s|p','e|r','o|w','q|u','th|e'],
                             t[i] || '|' || t[i+1])), p -> COALESCE(p, 0) > 0)) AS m
                       FROM bpe) q WHERE m IS NULL)"""

  private[queries] val t22 = QueryDef("t22_bpe_tokenize",
    (s, d) => graft.operators.TextAnalysis.bpeTokenize(
        Tables.documents(s, d), t22Merges)
      .orderBy("doc_id"),
    Some(t22Ctes + """
            SELECT wp.doc_id,
              CAST(SUM(len(d.t)) AS BIGINT) AS n_bpe,
              string_agg(array_to_string(d.t, ' '), ' ' ORDER BY wp.pos) AS toks
            FROM wp JOIN done d USING (word)
            GROUP BY wp.doc_id ORDER BY doc_id"""),
    bench = true)

  /** Tokenize-then-pack CAPSTONE (bpeTokenize -> packSequences): the two
    * final pre-training steps composed with REAL token counts — each
    * document's BPE length (t22's certified loop) drives its sequence-bin
    * assignment (t12's certified packing). The oracle chains both
    * replays: the recursive merge CTE feeds the per-shard running-sum
    * packing, so (n_bpe, seq_id, seq_offset) are hash-compared end to
    * end. One vocabulary-scale BPE pass + one packing shuffle. */
  private[queries] val t32 = QueryDef("t32_tokenize_pack",
    (s, d) => {
      val tok = graft.operators.TextAnalysis.bpeTokenize(
        Tables.documents(s, d), t22Merges)
      graft.operators.Sampling.packSequences(tok, col("doc_id"),
          col("n_bpe"), budget = 512, shards = 4)
        .select(col("doc_id"), col("n_bpe"), col("seq_id"), col("seq_offset"))
        .orderBy("doc_id")
    },
    Some(t22Ctes + """,
            cnt AS (SELECT wp.doc_id, CAST(SUM(len(d.t)) AS BIGINT) AS n_bpe
                    FROM wp JOIN done d USING (word) GROUP BY wp.doc_id),
            th AS (SELECT doc_id, n_bpe,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
               FROM cnt),
            pc AS (SELECT doc_id, n_bpe, h % 4 AS shard,
                    CAST(SUM(n_bpe) OVER (PARTITION BY h % 4 ORDER BY h, doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) - n_bpe AS cum
                  FROM th)
            SELECT doc_id, n_bpe, shard * 1099511627776 + cum // 512 AS seq_id,
              cum % 512 AS seq_offset
            FROM pc ORDER BY doc_id"""))

  /** Domain-mixture quota sampling (Sampling.mixtureSample): the largest
    * subset matching the en:5 de:2 es:2 fr:1 zh:2 mixture over the
    * naturally skewed lang distribution. The oracle independently derives
    * the binding domain, the integer-division quotas, and the md5-order
    * row selection — the full row SET is certified, not just counts. */
  private[queries] val t23 = QueryDef("t23_mixture_sample",
    (s, d) => graft.operators.Sampling.mixtureSample(
        Tables.documents(s, d), "lang", col("doc_id"),
        Map("en" -> 5, "de" -> 2, "es" -> 2, "fr" -> 1, "zh" -> 2))
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""WITH cnt AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
            wt(lang, w) AS (VALUES ('en', 5), ('de', 2), ('es', 2),
                                   ('fr', 1), ('zh', 2)),
            j AS (SELECT lang, n, w FROM cnt JOIN wt USING (lang)),
            m AS (SELECT n AS nm, w AS wm FROM j
                  ORDER BY CAST(n AS DOUBLE)/w, lang LIMIT 1),
            q AS (SELECT lang, (w * (SELECT nm FROM m)) // (SELECT wm FROM m)
                    AS quota FROM j),
            r AS (SELECT doc_id, lang,
                    ROW_NUMBER() OVER (PARTITION BY lang
                      ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 15),
                               doc_id) AS rk
                  FROM documents)
            SELECT doc_id, lang FROM r JOIN q USING (lang)
            WHERE rk <= quota ORDER BY doc_id"""))

  /** Count-Min sketch estimates (TextAnalysis.countMinEstimates, depth 3,
    * width 64) for the whole corpus vocabulary. md5-derived bucket hashes
    * make the sketch — including collision overcounts — portable: the
    * oracle rebuilds the counters table and min-probe from scratch, so a
    * hash match certifies the sketch arithmetic exactly, not just its
    * error bound (est >= cnt by construction). */
  private[queries] val t24 = QueryDef("t24_countmin",
    (s, d) => graft.operators.TextAnalysis.countMinEstimates(
        Tables.documents(s, d), depth = 3, width = 64)
      .orderBy("word"),
    Some("""WITH tok AS (SELECT UNNEST(list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '')) AS word
              FROM documents),
            truth AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY word),
            h AS (SELECT word, d.range AS i,
                    ('0x' || substring(md5(CAST(d.range AS VARCHAR) || ':' || word), 1, 15))::BIGINT
                      % 64 AS b
                  FROM tok, range(3) d),
            counters AS (SELECT i, b, COUNT(*) AS c FROM h GROUP BY i, b),
            probes AS (SELECT DISTINCT word, i, b FROM h)
            SELECT t.word, MIN(c.c) AS est, t.cnt
            FROM truth t JOIN probes p ON p.word = t.word
            JOIN counters c ON c.i = p.i AND c.b = p.b
            GROUP BY t.word, t.cnt ORDER BY t.word"""))

  /** Linear classifier inference (TextAnalysis.linearClassify): hashed
    * bag-of-words against a broadcast integer weight table — the
    * quality-filter pass shape. The demo weight table is a deterministic
    * formula over buckets so the oracle can rebuild it with range();
    * scores are integer sums — bit-exact, no float dot product. */
  private[queries] val t25 = QueryDef("t25_quality_classifier",
    (s, d) => {
      val dim = 1024
      val weights = s.range(dim.toLong).select(col("id").as("bucket"),
        ((col("id") * 37) % 201 - 100).as("weight"))
      graft.operators.TextAnalysis.linearClassify(
          Tables.documents(s, d), weights, dim)
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, UNNEST(list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                x -> x <> '')) AS word FROM documents),
            b AS (SELECT doc_id,
                ('0x' || substring(md5(word), 1, 15))::BIGINT % 1024 AS bucket
              FROM w),
            wt AS (SELECT range AS bucket, (range * 37) % 201 - 100 AS weight
                   FROM range(1024))
            SELECT doc_id, CAST(SUM(weight) AS BIGINT) AS score_sum,
              COUNT(*) AS n_words, (SUM(weight) >= 0) AS keep
            FROM b JOIN wt USING (bucket)
            GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** Curation-funnel audit (TextAnalysis.curationFunnel): four hygiene
    * stages — language gate, minimum length, repetition cap (the fused
    * RepetitionStats expression, t15-certified), alphabetic ratio — as a
    * single-scan kept/dropped report. The oracle recomputes every stage
    * flag and the cumulative-reach sums independently; funnel arithmetic
    * (rows_in of stage i+1 = rows_kept of stage i) is part of the hash. */
  private[queries] val t26 = QueryDef("t26_curation_funnel",
    (s, d) => {
      import graft.functions.{ArrayExprs, TextFns}
      graft.operators.TextAnalysis.curationFunnel(Tables.documents(s, d), Seq(
        "lang_en" -> (col("lang") === "en"),
        "min_30_tokens" -> (size(TextFns.words(col("text"))) >= 30),
        "low_repetition" ->
          (ArrayExprs.repetition_stats(col("text")).getField("dup_bigram") <= 0.3),
        "alpha_ratio" ->
          ((length(regexp_replace(col("text"), "[^a-zA-Z ]", "")).cast("double") /
            greatest(length(col("text")), lit(1)).cast("double")) >= 0.55)))
        .orderBy("stage_idx")
    },
    Some("""WITH n AS (SELECT lang, text,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                  x -> x <> '') AS w
              FROM documents),
            g AS (SELECT lang, text, w,
                list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]) AS g2
              FROM n),
            f AS (SELECT
                (lang = 'en') AS p0,
                (len(w) >= 30) AS p1,
                (CASE WHEN len(g2) <= 0 THEN 0.0 ELSE
                   FLOOR((len(g2) - len(list_distinct(g2))) * 1.0 / len(g2)
                     * 10000 + 0.5) / 10000 END <= 0.3) AS p2,
                (LENGTH(regexp_replace(text, '[^a-zA-Z ]', '', 'g')) * 1.0 /
                   GREATEST(LENGTH(text), 1) >= 0.55) AS p3
              FROM g),
            a AS (SELECT
                COUNT(*) AS in0,
                CAST(SUM(CASE WHEN p0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
                CAST(SUM(CASE WHEN p0 AND p1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
                CAST(SUM(CASE WHEN p0 AND p1 AND p2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
                CAST(SUM(CASE WHEN p0 AND p1 AND p2 AND p3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
              FROM f)
            SELECT 0 AS stage_idx, 'lang_en' AS stage, in0 AS rows_in,
              k0 AS rows_kept, in0 - k0 AS rows_dropped FROM a
            UNION ALL SELECT 1, 'min_30_tokens', k0, k1, k0 - k1 FROM a
            UNION ALL SELECT 2, 'low_repetition', k1, k2, k1 - k2 FROM a
            UNION ALL SELECT 3, 'alpha_ratio', k2, k3, k2 - k3 FROM a
            ORDER BY stage_idx"""))

  /** DSIR importance weights (TextAnalysis.dsirWeights): hashed-bigram
    * log-likelihood ratios of an English target slice vs the raw corpus,
    * 1024 buckets. The oracle re-derives the bigram stream, the md5
    * bucket hash, both smoothed distributions and the scaled-BIGINT log
    * terms; the per-document integer sums are hash-compared exactly. */
  private[queries] val t27 = QueryDef("t27_dsir_weights",
    (s, d) => graft.operators.TextAnalysis.dsirWeights(
        Tables.documents(s, d), col("lang") === "en", buckets = 1024)
      .orderBy("doc_id"),
    Some("""WITH w AS (SELECT doc_id, (lang = 'en') AS tgt,
                list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                  x -> x <> '') AS w
              FROM documents),
            g AS (SELECT doc_id, tgt,
                UNNEST(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS g
              FROM w WHERE len(w) >= 2),
            b AS (SELECT doc_id, tgt,
                ('0x' || substring(md5(g), 1, 15))::BIGINT % 1024 AS b
              FROM g),
            bc AS (SELECT b, COUNT(*) AS cr,
                CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
              FROM b GROUP BY b),
            tot AS (SELECT CAST(SUM(cr) AS BIGINT) AS r,
                CAST(SUM(ct) AS BIGINT) AS t FROM bc),
            lw AS (SELECT b,
                CAST(FLOOR((LN(CAST(ct + 1 AS DOUBLE) / CAST(t + 1024 AS DOUBLE)) -
                            LN(CAST(cr + 1 AS DOUBLE) / CAST(r + 1024 AS DOUBLE)))
                  * 10000 + 0.5) AS BIGINT) AS lw
              FROM bc, tot),
            db AS (SELECT doc_id, b, COUNT(*) AS cnt FROM b GROUP BY 1, 2)
            SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS n_feats,
              CAST(SUM(cnt * lw) AS BIGINT) AS log_w
            FROM db JOIN lw USING (b)
            GROUP BY doc_id ORDER BY doc_id"""),
    bench = true)

  /** Fractional-epoch upsampling (Sampling.epochUpsample): per-language
    * epoch factors spanning >1 (repeat), <1 (hash-gate downsample) and
    * exactly 1. The oracle replays the integer-permille split and the
    * md5(key||"#epoch") gate; the row MULTISET (each copy's epoch_idx)
    * is part of the hash. */
  private[queries] val t28 = QueryDef("t28_epoch_upsample",
    (s, d) => graft.operators.Sampling.epochUpsample(
        Tables.documents(s, d), "lang", col("doc_id"),
        Map("en" -> 1500, "de" -> 2250, "es" -> 700, "fr" -> 3000, "zh" -> 1000))
      .select("doc_id", "lang", "epoch_idx")
      .orderBy("doc_id", "epoch_idx"),
    Some("""WITH ep(lang, pm) AS (VALUES ('en', 1500), ('de', 2250), ('es', 700),
                                         ('fr', 3000), ('zh', 1000)),
            c AS (SELECT doc_id, lang, pm // 1000 +
                (CASE WHEN ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#epoch'),
                     1, 15))::BIGINT % 1000 < pm % 1000 THEN 1 ELSE 0 END) AS copies
              FROM documents JOIN ep USING (lang))
            SELECT doc_id, lang, UNNEST(range(1, copies + 1)) AS epoch_idx
            FROM c WHERE copies >= 1 ORDER BY doc_id, epoch_idx"""))

  /** BPE tokenizer training (TextAnalysis.bpeTrain): 6 merge rounds over
    * the corpus word-frequency table. The oracle UNROLLS the training
    * loop — per round the pair counting, the (count desc, pair asc)
    * argmax and the all-occurrence merge application are re-derived in
    * SQL — so the learned merge table is certified bit-for-bit, the same
    * way t22 certifies merge APPLICATION. */
  private def t29RoundCte(r: Int): String = s""",
            p${r}0 AS (SELECT freq, UNNEST(list_transform(range(1, len(toks)),
                        i -> {'a': toks[i], 'b': toks[i+1]})) AS pr FROM s${r - 1}),
            p$r AS (SELECT pr.a AS a, pr.b AS b,
                      CAST(SUM(freq) AS BIGINT) AS cnt FROM p${r}0
                    WHERE pr.a <> pr.b GROUP BY 1, 2),
            b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
            s$r AS (SELECT word, freq,
                list_filter(list_transform(range(1, len(toks) + 1), i ->
                  CASE WHEN i < len(toks) AND toks[i] = b.a AND toks[i+1] = b.b
                         THEN toks[i] || toks[i+1]
                       WHEN i > 1 AND toks[i] = b.b AND toks[i-1] = b.a THEN NULL
                       ELSE toks[i] END), x -> x IS NOT NULL) AS toks
                FROM s${r - 1}, b$r b)"""

  private[queries] val t29 = QueryDef("t29_bpe_train",
    (s, d) => graft.operators.TextAnalysis.bpeTrain(
        Tables.documents(s, d), rounds = 6)
      .orderBy("merge_rank"),
    Some("""WITH w AS (SELECT UNNEST(list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                x -> x <> '')) AS word FROM documents),
            t0 AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY word),
            s0 AS (SELECT word, freq,
                list_transform(range(1, length(word) + 1), i -> word[i]) AS toks
              FROM t0)""" +
      (1 to 6).map(t29RoundCte).mkString +
      "\nSELECT * FROM (" +
      (1 to 6).map(r =>
        s"SELECT $r AS merge_rank, a AS lhs, b AS rhs, cnt AS pair_count FROM b$r")
        .mkString(" UNION ALL ") +
      ") ORDER BY merge_rank"))

  /** Exact-quota train/val/test split (Sampling.splitAssign): per-language
    * 80/10/10 with EXACT integer quotas over the md5-rank order. The
    * oracle replays the hash ranking and the integer-div boundaries, so
    * every row's split assignment is hash-compared. */
  private[queries] val t30 = QueryDef("t30_split_assign",
    (s, d) => graft.operators.Sampling.splitAssign(
        Tables.documents(s, d).select("doc_id", "lang"), "lang", col("doc_id"))
      .orderBy("doc_id"),
    Some("""WITH r AS (SELECT doc_id, lang,
                ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                              1, 15))::BIGINT, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY lang) AS n
              FROM documents)
            SELECT doc_id, lang,
              CASE WHEN rn <= n * 800 // 1000 THEN 'train'
                   WHEN rn <= n * 800 // 1000 + n * 100 // 1000 THEN 'val'
                   ELSE 'test' END AS split
            FROM r ORDER BY doc_id"""),
    bench = true)

  /** Per-domain exact quantile gate (Sampling.qualityGate): keep each
    * language's top-300-permille documents by n_chars — "keep the best
    * 30% of every language by quality score" with an EXACT integer
    * quota, ties broken by the md5-hash order. Runs on the t30
    * distributed-rank machinery (no per-domain window/sort task); the
    * oracle replays the DESC score order, hash tiebreak and integer-div
    * quota, so the exact kept set is hash-compared. */
  private[queries] val t35 = QueryDef("t35_quality_gate",
    (s, d) => graft.operators.Sampling.qualityGate(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        "lang", col("n_chars"), col("doc_id"), 300)
      .orderBy("doc_id"),
    Some("""WITH r AS (SELECT doc_id, lang, n_chars,
                ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY n_chars DESC,
                    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                       1, 15))::BIGINT, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY lang) AS n
              FROM documents)
            SELECT doc_id, lang, n_chars FROM r
            WHERE rn <= n * 300 // 1000 ORDER BY doc_id"""))

  /** Deterministic corpus shuffle + round-robin shard assignment
    * (Sampling.shuffleShards): the pipeline's LAST step — a stable
    * md5-order pseudo-random permutation dealt into 16 shards, each an
    * unbiased same-size sample. Runs on the t30 distributed-rank
    * machinery (no window, no global sort task); the oracle replays the
    * hash order and both modular assignments, so every row's (shard,
    * shard_pos) is hash-compared. */
  private[queries] val t31 = QueryDef("t31_shuffle_shards",
    (s, d) => graft.operators.Sampling.shuffleShards(
        Tables.documents(s, d).select("doc_id", "lang"), col("doc_id"), 16)
      .orderBy("doc_id"),
    Some("""WITH r AS (SELECT doc_id, lang,
                ROW_NUMBER() OVER (ORDER BY
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT, doc_id) - 1 AS rk
              FROM documents)
            SELECT doc_id, lang, CAST(rk % 16 AS INT) AS shard,
              rk // 16 AS shard_pos
            FROM r ORDER BY doc_id"""))

  /** Per-shard data-card manifest over [[t31]]'s shuffle-shard layout —
    * the accounting artifact a shipped corpus release carries: per shard
    * the document count, total characters, and the per-language
    * breakdown as a SORTED "lang:count" list (deterministic across
    * engines; a map column would hash differently). Certifies both the
    * round-robin balance (every shard the same size ±1) and that the
    * manifest itself is reproducible. Two hash aggregations, no window. */
  private[queries] val t34 = QueryDef("t34_shard_manifest",
    (s, d) => {
      val sharded = graft.operators.Sampling.shuffleShards(
        Tables.documents(s, d).select("doc_id", "lang", "n_chars"),
        col("doc_id"), 16)
      sharded.groupBy("shard", "lang")
        .agg(count(lit(1)).as("__n"), sum("n_chars").as("__ch"))
        .groupBy("shard")
        .agg(sum("__n").cast("long").as("n_docs"),
          sum("__ch").cast("long").as("total_chars"),
          array_join(sort_array(collect_list(
            concat(col("lang"), lit(":"), col("__n")))), ",").as("lang_counts"))
        .orderBy("shard")
    },
    Some("""WITH r AS (SELECT doc_id, lang, n_chars,
                ROW_NUMBER() OVER (ORDER BY
                  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                     1, 15))::BIGINT, doc_id) - 1 AS rk
              FROM documents),
            sh AS (SELECT CAST(rk % 16 AS INT) AS shard, lang, n_chars FROM r),
            bl AS (SELECT shard, lang, COUNT(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS ch
                   FROM sh GROUP BY 1, 2)
            SELECT shard, CAST(SUM(n) AS BIGINT) AS n_docs,
              CAST(SUM(ch) AS BIGINT) AS total_chars,
              array_to_string(list_sort(list(lang || ':' || CAST(n AS VARCHAR))),
                ',') AS lang_counts
            FROM bl GROUP BY shard ORDER BY shard"""))

  /** Temperature (alpha=0.5) mixture resampling
    * (Sampling.temperatureResample): languages rebalanced toward
    * q ∝ p^0.5 by keeping each at rate sqrt(n_min/n_d) through the
    * deterministic epoch gate. The oracle re-derives the domain counts,
    * the floor(1000·sqrt(n_min)/sqrt(n_d)) permille rates (a fixed tree
    * of correctly-rounded IEEE ops — bit-identical cross-engine) and the
    * md5 gate, so the exact surviving row set is certified. */
  private[queries] val t33 = QueryDef("t33_temperature_resample",
    (s, d) => graft.operators.Sampling.temperatureResample(
        Tables.documents(s, d).select("doc_id", "lang"), "lang",
        col("doc_id"))
      .select("doc_id", "lang")
      .orderBy("doc_id"),
    Some("""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
            mn AS (SELECT MIN(n) AS n0 FROM c),
            r AS (SELECT lang, GREATEST(1, CAST(FLOOR(1000.0 *
                    SQRT(CAST(n0 AS DOUBLE)) / SQRT(CAST(n AS DOUBLE)))
                    AS INT)) AS pm
                  FROM c, mn)
            SELECT doc_id, lang FROM documents JOIN r USING (lang)
            WHERE pm >= 1000
               OR ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#epoch'),
                     1, 15))::BIGINT % 1000 < pm
            ORDER BY doc_id"""))

  /** t37: PMI collocation mining (TextAnalysis.pmiCollocations) — the
    * corpus's strongest adjacent-pair associations by scaled-BIGINT
    * pointwise mutual information, min bigram count 5, top 20. */
  private[queries] val t37 = QueryDef("t37_pmi_collocations",
    (s, d) => TextAnalysis.pmiCollocations(
      Tables.documents(s, d), minCount = 5L, topK = 20),
    Some("""WITH w AS (SELECT list_filter(
                regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'),
                x -> x <> '') AS w FROM documents),
            bg AS (SELECT UNNEST(list_transform(range(1, len(w)),
                     i -> [w[i], w[i+1]])) AS p
                   FROM w WHERE len(w) >= 2),
            pair AS (SELECT p[1] AS w1, p[2] AS w2 FROM bg),
            n2 AS (SELECT w1, w2, COUNT(*) AS n2 FROM pair GROUP BY w1, w2),
            m1 AS (SELECT w1, SUM(n2) AS c1 FROM n2 GROUP BY w1),
            m2 AS (SELECT w2, SUM(n2) AS c2 FROM n2 GROUP BY w2),
            t AS (SELECT SUM(n2) AS t FROM n2)
            SELECT n2.w1, n2.w2, n2.n2,
              CAST(FLOOR(LN((CAST(n2.n2 AS DOUBLE) * CAST((SELECT t FROM t) AS DOUBLE)) /
                            (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE))) * 10000
                   + 0.5) AS BIGINT) AS pmi_scaled
            FROM n2 JOIN m1 USING (w1) JOIN m2 USING (w2)
            WHERE n2.n2 >= 5
            ORDER BY pmi_scaled DESC, w1, w2 LIMIT 20"""),
    bench = true)

  /** t08's MinHash ESTIMATOR re-derived with portable hash lanes
    * (TextAnalysis.sourceSimilarityPortable), the oracled sibling of that
    * `no_oracle` row: the estimate is bit-certified against DuckDB,
    * completing the pattern that covers every other approximate row
    * (d08/d12, x12–x17). */
  private[queries] val t38 = QueryDef("t38_source_sim_minhash_portable",
    (s, d) => TextAnalysis.sourceSimilarityPortable(Tables.documents(s, d))
      .orderBy("src_a", "src_b"),
    Some("""WITH w AS (SELECT source, list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), x -> x <> '') AS w FROM documents),
            g AS (SELECT DISTINCT source, sh FROM (
                    SELECT source, UNNEST(list_transform(
                      range(1, len(w)-1),
                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
                    FROM w)),
            l AS (SELECT source, i,
                    ('0x' || substring(md5(CAST(i AS VARCHAR) || ':' || sh), 1, 15))::BIGINT AS h
                  FROM g CROSS JOIN (SELECT UNNEST(range(0, 32)) AS i)),
            s AS (SELECT source, i, MIN(h) AS mh FROM l GROUP BY source, i),
            p AS (SELECT a.source AS src_a, b.source AS src_b,
                    SUM(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS m
                  FROM s a JOIN s b ON a.i = b.i AND a.source < b.source
                  GROUP BY 1, 2)
            SELECT src_a, src_b,
              FLOOR(m / 32.0 * 10000 + 0.5) / 10000 AS est_jaccard
            FROM p ORDER BY src_a, src_b"""))
}
