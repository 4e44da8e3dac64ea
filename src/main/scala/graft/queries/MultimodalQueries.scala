package graft.queries

import org.apache.spark.sql.functions._
import graft.queries.Catalog.QueryDef

/** Multimodal rows: media metadata, features, perceptual-hash near-dups
  * and frame sampling ([[graft.multimodal]]). */
object MultimodalQueries {

  private[queries] val m01 = QueryDef("m01_multimodal_stats",
    (s, d) => graft.multimodal.Multimodal.modalityStats(
      graft.multimodal.Multimodal.generate(s, 200)).orderBy("modality"),
    // metadata-only stats never touch the payload, so the oracle re-derives
    // them from the generator's arithmetic: modality = id%3, payload length
    // = 64 + id%64, width = 32 + (id%4)*16, frames = 8 for video else 1
    Some("""WITH m AS (
              SELECT r.range AS id,
                CASE CAST(r.range % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS modality
              FROM range(200) r)
            SELECT modality, COUNT(*) AS n,
              CAST(SUM(64 + id % 64) AS BIGINT) AS total_bytes,
              CAST(MAX(32 + (id % 4) * 16) AS INT) AS max_width,
              CAST(SUM(CASE WHEN modality = 'video' THEN 8 ELSE 1 END) AS BIGINT)
                AS total_frames
            FROM m GROUP BY modality ORDER BY modality"""))

  private[queries] val m02 = QueryDef("m02_media_features",
    (s, d) => {
      import graft.multimodal.Multimodal._
      extractFeatures(generate(s, 100), dim = 8).toDF()
        .select(col("media_id"), col("modality"),
          round(element_at(col("feature"), 1).cast("double"), 4).as("f0"),
          round(element_at(col("feature"), 8).cast("double"), 4).as("f7"))
        .orderBy("media_id")
    },
    // the stub codec is portable arithmetic (see Multimodal.StubCodec):
    // byte j = (id*131 + j*31) % 256 - 128, S = sum of unsigned bytes
    // (= raw+128 mod 256), K = S + id*997, feature i =
    // float((K*(2i+3) + (K div 1000)*(7i+1)) % 1000 / 1000.0)
    Some("""WITH m AS (
              SELECT r.range AS id,
                CASE CAST(r.range % 3 AS INT) WHEN 0 THEN 'image'
                     WHEN 1 THEN 'audio' ELSE 'video' END AS modality,
                list_sum(list_transform(range(64 + r.range % 64),
                  j -> (r.range*131 + j*31 + 128) % 256)) + r.range*997 AS k
              FROM range(100) r)
            SELECT id AS media_id, modality,
              ROUND(CAST(CAST((k * 3 + (k // 1000) * 1) % 1000 / 1000.0 AS REAL)
                AS DOUBLE), 4) AS f0,
              ROUND(CAST(CAST((k * 17 + (k // 1000) * 50) % 1000 / 1000.0 AS REAL)
                AS DOUBLE), 4) AS f7
            FROM m ORDER BY media_id"""))

  /** Perceptual-hash media near-dup (Multimodal.perceptualDupPairs):
    * aHash over the stub-decoded payload, multi-index pigeonhole
    * candidates over maxHamming+1 = 9 near-equal chunks (one 8-bit +
    * eight 7-bit — COMPLETE for hamming <= 8, unlike round 7's 4x16
    * chunking which only guaranteed <= 3), exact Hamming verify. The
    * fixture is the md5-payload generator plus planted exact re-uploads
    * (ids+10000) and one-byte-perturbed re-encodes (ids+20000) — the
    * oracle re-derives every payload byte, the mean-threshold bits, the
    * 9-chunk collisions and the Hamming distances, so the pair set
    * (clones at 0, re-encodes at 0-3 bits, plus any true <=8 background
    * pair) is certified end to end. */
  private[queries] val m03 = QueryDef("m03_media_neardup",
    (s, d) => {
      import graft.multimodal.Multimodal._
      import s.implicits._
      val base = generateHashed(s, 200)
      val clones = base.filter(_.media_id < 8)
        .map(r => r.copy(media_id = r.media_id + 10000))
      val reenc = base.filter(_.media_id < 8).map { r =>
        val b = r.bytes.clone()
        b(0) = (((b(0) & 0xFF) + 200) % 256).toByte
        r.copy(media_id = r.media_id + 20000, bytes = b)
      }
      perceptualDupPairs(base.union(clones).union(reenc))
        .orderBy("id_a", "id_b")
    },
    Some("""WITH ids AS (SELECT r.range AS id, r.range AS bid, 0 AS pert
                         FROM range(200) r
                         UNION ALL SELECT r.range + 10000, r.range, 0 FROM range(8) r
                         UNION ALL SELECT r.range + 20000, r.range, 1 FROM range(8) r),
            px AS (SELECT id, list_transform(range(64), j ->
                     CASE WHEN pert = 1 AND j = 0
                       THEN (('0x' || substring(md5(CAST(bid AS VARCHAR) || ':0'),
                               1, 2))::INT + 200) % 256
                       ELSE ('0x' || substring(md5(CAST(bid AS VARCHAR) || ':' ||
                               CAST(j AS VARCHAR)), 1, 2))::INT
                     END) AS p FROM ids),
            hb AS (SELECT id, p, list_sum(p) AS s FROM px),
            bits AS (SELECT id, list_transform(range(64),
                       j -> CASE WHEN p[j+1]*64 > s THEN 1 ELSE 0 END) AS b
                     FROM hb),
            h AS (SELECT id, CAST(list_sum(list_transform(range(64),
                    j -> CASE WHEN j = 63
                           THEN b[64]::BIGINT * (-9223372036854775808)
                         ELSE b[j+1]::BIGINT << CAST(j AS INT) END)) AS BIGINT)
                    AS ah FROM bits),
            ch AS (SELECT id, ah, c.range AS c,
                    (ah >> CAST(c.range * 7 + LEAST(c.range, 1) AS INT)) &
                      (CASE WHEN c.range = 0 THEN 255 ELSE 127 END) AS v
                   FROM h, range(9) c),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM ch a JOIN ch b
                       ON a.c = b.c AND a.v = b.v AND a.id < b.id)
            SELECT cand.id_a, cand.id_b,
              CAST(bit_count(xor(x.ah, y.ah)) AS INTEGER) AS hamming
            FROM cand JOIN h x ON x.id = cand.id_a
                      JOIN h y ON y.id = cand.id_b
            WHERE bit_count(xor(x.ah, y.ah)) <= 8
            ORDER BY id_a, id_b"""))

  /** m04: video frame sampling through the codec kernel boundary
    * (Multimodal.sampleFrames — the brief's frame-sample stage): video
    * rows explode into one row per stride-2 frame, payload sliced by the
    * per-partition codec. Frames surface as (len, unsigned byte sum) so
    * the oracle re-derives every sampled byte from the generator's
    * portable arithmetic (byte j of id = (id*131 + j*31 + 128) % 256
    * unsigned, frame f = 16 bytes from offset (16f mod len)) — slicing,
    * striding and the modality filter are all hash-certified. */
  private[queries] val m04 = QueryDef("m04_frame_sample",
    (s, d) => {
      import graft.multimodal.Multimodal._
      import s.implicits._
      sampleFrames(generate(s, 120), stride = 2)
        .map(f => (f.media_id, f.frame_idx, f.frame_bytes.length,
          f.frame_bytes.foldLeft(0L)((a, b) => a + (b & 0xFF))))
        .toDF("media_id", "frame_idx", "frame_len", "frame_sum")
        .orderBy("media_id", "frame_idx")
    },
    Some("""WITH v AS (SELECT r.range AS id, 64 + r.range % 64 AS len
                       FROM range(120) r WHERE r.range % 3 = 2),
            f AS (SELECT id, len, UNNEST([0, 2, 4, 6]) AS fi FROM v),
            st AS (SELECT id, fi, len, (fi * 16) % len AS s0 FROM f)
            SELECT id AS media_id, CAST(fi AS INT) AS frame_idx,
              CAST(LEAST(16, len - s0) AS INT) AS frame_len,
              CAST(list_sum(list_transform(
                range(s0, s0 + LEAST(16, len - s0)),
                j -> (id * 131 + j * 31 + 128) % 256)) AS BIGINT)
                AS frame_sum
            FROM st ORDER BY media_id, frame_idx"""))
}
