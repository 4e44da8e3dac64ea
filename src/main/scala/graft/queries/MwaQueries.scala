package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.Catalog.QueryDef

/** MWA rows: the manifest, validation, read, SSINS and match-filter
  * surface of the reference pipeline (SURVEY.md §2), each on a fixture the
  * DuckDB oracle can re-derive. */
object MwaQueries {

  private val mwaPaths = Seq(
    "/data/1234567890_20230101000000_gpubox01_00.fits",
    "/data/1234567890_20230101000000_gpubox02_00.fits",
    "/data/1234567890.metafits",
    "/data/1234567891_20230101000100_ch133_00.fits",
    "/data/1234567891.metafits")

  private val mwaPathValues = mwaPaths.map(p => s"('$p')").mkString(", ")

  private[queries] val mwa01 = QueryDef("mwa01_manifest",
    (s, d) => graft.mwa.Manifest.groupByExtension(
      graft.mwa.Manifest.fromPaths(s, mwaPaths))
      .select(col("ext"), array_join(col("files"), "|").as("files"))
      .orderBy("ext"),
    // independent re-derivation of the grouping over the same literal paths
    Some(s"""WITH f(file_path) AS (VALUES $mwaPathValues),
             m AS (SELECT file_path,
                     regexp_extract(file_path, '([^/]+)$$', 1) AS name FROM f),
             e AS (SELECT file_path,
                     regexp_extract(name, '\\.([^./]+)$$', 1) AS ext FROM m)
             SELECT ext,
               array_to_string(LIST(file_path ORDER BY file_path), '|') AS files
             FROM e GROUP BY ext ORDER BY ext"""))

  private[queries] val mwa02 = QueryDef("mwa02_validation",
    (s, d) => graft.mwa.Validation.validateFileSet(s,
      graft.mwa.Manifest.fromPaths(s, Seq(
        "/d/111_gpubox01.fits", "/d/222_gpubox01.fits", "/d/222.metafits",
        "/d/x.unknownext", "/d/a.uvfits", "/d/b.uvh5")),
      graft.mwa.GraftConfig(selAnts = Seq(1), skipAnts = Seq(2)))
      .orderBy("code"),
    // expected violations for this fixed input, derived by hand from the
    // reference's rules (configurators.py:136-185): obsids {111,x,a,b} lack
    // metafits; sel+skip both set; 'unknownext' unsupported; uvfits+uvh5
    Some("""SELECT * FROM (VALUES
              ('metafits_missing_for_obsid', 'Metafits files are missing for some obsids.'),
              ('sel_skip_conflict', 'Cannot specify both sel_ants and skip_ants.'),
              ('unsupported_types', 'Unsupported file types found: unknownext'),
              ('uvfits_uvh5_conflict', 'Cannot use both uvfits and uvh5 files.'))
            AS t(code, message) ORDER BY code"""))

  private[queries] val mwa03 = QueryDef("mwa03_ins_spectrum",
    (s, d) => {
      import graft.mwa._
      val cfg = GraftConfig(removeFlaggedAnts = false)
      VisOps.spectrum(VisGenerator.vis(s), cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"),
          round(col("metric"), 4).as("metric"), col("nsamples"),
          round(col("z"), 4).as("z"))
        .orderBy("pol", "time_idx", "freq_hz")
    },
    None, bench = true)

  /** SSINS match filter on the portable fixture — BIT-EXACT oracle for the
    * greedy iterate-to-fixpoint (the reference's signature algorithm,
    * configurators.py:89-92). Exactness argument: metrics are dyadic
    * rationals (sums exact, order-free), sqrt(nsamples)=sqrt(4)=2 exact,
    * per-cell z is a single correctly-rounded division (identical bits in
    * any IEEE engine), and the streak Stouffer sum — the only
    * order-sensitive accumulation — is mirrored with a DuckDB
    * `list_reduce` left fold over f-ascending terms, exactly the Scala
    * accumulator order. The fixpoint itself is a recursive CTE carrying
    * the full mask state; each step flags the single best event per
    * (obsid,pol) group with the Scala scan-order tie-break
    * (sig DESC, t, narrow-before-streak, f). tb_aggro=1/32 (dyadic) so the
    * post-loop time broadcast fires on the narrow-flagged times, covering
    * all three event kinds in one certified query. */
  /** The mwa04 recursive-CTE oracle, shared verbatim with s06_stream_mf
    * (the streaming execution of the same fixpoint must match the same SQL
    * bit-for-bit). */
  private val mwa04OracleBody: String = """WITH RECURSIVE
            g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a.range AS INT) AS ant,
                     CAST(f.range AS INT) AS freq_idx, p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(4) a, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)),
            c AS (
              SELECT time_idx, ant, freq_idx, pol,
                ((ant*18 + freq_idx*3 + pi*17) % 64)
                + CASE WHEN freq_idx = 5 AND time_idx BETWEEN 6 AND 9
                       THEN 40.0 ELSE 0.0 END
                + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
                + ((time_idx*37 + ant*42 + freq_idx*53 + pi*71) % 128 - 64) / 64.0
                  AS re
              FROM g),
            d AS (
              SELECT time_idx, ant, freq_idx, pol,
                LEAD(re) OVER (PARTITION BY ant, freq_idx, pol ORDER BY time_idx)
                  - re AS dre
              FROM c QUALIFY dre IS NOT NULL),
            m AS (
              SELECT time_idx AS t, freq_idx AS f, pol, AVG(ABS(dre)) AS metric
              FROM d GROUP BY 1, 2, 3),
            rec(iter, pol, t, f, flagged, event) AS (
              SELECT 0, pol, t, f, false, '' FROM m
              UNION ALL
              (
                WITH cur AS (SELECT * FROM rec),
                mz AS (SELECT c.*, m.metric FROM cur c JOIN m USING (pol, t, f)),
                st AS (SELECT pol, f,
                         SUM(metric) FILTER (WHERE NOT flagged) /
                         COUNT(*) FILTER (WHERE NOT flagged) AS mean
                       FROM mz GROUP BY pol, f),
                z AS (SELECT mz.pol, mz.t, mz.f, mz.flagged, mz.event,
                        CASE WHEN NOT mz.flagged AND st.mean IS NOT NULL
                                  AND st.mean <> 0
                             THEN (mz.metric / st.mean - 1) * 2.0 END AS z
                      FROM mz JOIN st USING (pol, f)),
                cand AS (
                  SELECT pol, z AS sig, 0 AS kind, t, f
                  FROM z WHERE z IS NOT NULL AND z > 7.0
                  UNION ALL
                  SELECT * FROM (
                    SELECT pol,
                      list_reduce(list(z * 2.0 ORDER BY f), (a, b) -> a + b)
                        / SQRT(4.0 * COUNT(z)) AS sig,
                      1 AS kind, t, NULL::INT AS f
                    FROM z WHERE z IS NOT NULL GROUP BY pol, t) s
                  WHERE s.sig > 8.0),
                best AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pol
                           ORDER BY sig DESC, t, kind, f NULLS LAST) AS rn
                         FROM cand)
                SELECT c.iter + 1, c.pol, c.t, c.f,
                  c.flagged OR (b.kind = 0 AND c.t = b.t AND c.f = b.f)
                            OR (b.kind = 1 AND c.t = b.t),
                  CASE WHEN NOT c.flagged AND b.kind = 0 AND c.t = b.t
                            AND c.f = b.f THEN 'narrow'
                       WHEN NOT c.flagged AND b.kind = 1 AND c.t = b.t
                            THEN 'streak'
                       ELSE c.event END
                FROM cur c JOIN best b ON b.pol = c.pol AND b.rn = 1
              )
            ),
            fin AS (SELECT * FROM rec
                    QUALIFY iter = MAX(iter) OVER (PARTITION BY pol)),
            tb AS (SELECT pol, t, COUNT(*) FILTER (WHERE flagged) AS nf
                   FROM fin GROUP BY pol, t),
            outp AS (
              SELECT fin.pol, fin.t, fin.f,
                fin.flagged OR (tb.nf / 16.0 > 0.03125 AND tb.nf < 16) AS flagged,
                CASE WHEN NOT fin.flagged AND tb.nf / 16.0 > 0.03125
                          AND tb.nf < 16
                     THEN 'time_broadcast' ELSE fin.event END AS event
              FROM fin JOIN tb USING (pol, t))"""

  private[queries] val mwa04Oracle: String = mwa04OracleBody + """
            SELECT t AS time_idx, 130000000.0 + f * 40000.0 AS freq_hz, pol, event
            FROM outp WHERE flagged ORDER BY pol, time_idx, freq_hz"""

  private[queries] val mwa04 = QueryDef("mwa04_mf_flags",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto, tbAggro = 1.0 / 32)
      // the SQL oracle hardcodes these fixture/config constants; a change
      // to either side must fail HERE, not as an unexplained hash mismatch
      require(spec.nTimes == 17 && spec.nAnts == 4 &&
        spec.nCoarse * spec.nFine == 16 &&
        spec.freq0Hz == 130000000.0 && spec.dfHz == 40000.0 &&
        spec.rfiFreqIdx == 5 && spec.rfiTimes == (6, 9) &&
        spec.rfiAmp == 40.0 && spec.streakTime == 12 && spec.streakAmp == 60.0 &&
        cfg.narrow == 7.0 && cfg.streak == 8.0 && cfg.tbAggro == 0.03125,
        "mwa04: Spec/GraftConfig constants drifted from the SQL oracle")
      val insDf = VisOps.ins(VisOps.diff(
        VisOps.selectSurface(VisGenerator.portable(s, spec), cfg)))
      MatchFilter(insDf, cfg).filter(col("flagged"))
        .select("time_idx", "freq_hz", "pol", "event")
        .orderBy("pol", "time_idx", "freq_hz")
    },
    Some(mwa04Oracle))

  /** Scale demonstration: the full SSINS chain on a ~5M-row generated
    * observation (24 times x 16 ants (136 baselines) x 12 chans x 32 fine
    * x 4 pols). Exercises generation parallelism, the channel-partitioned
    * diff and the early INS reduction at bench scale. */
  private[queries] val mwa06 = QueryDef("mwa06_spectrum_big",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 24, nAnts = 16, nCoarse = 12,
        nFine = 32, pols = Seq("XX", "YY", "XY", "YX"))
      val cfg = GraftConfig(removeFlaggedAnts = false)
      VisOps.spectrum(VisGenerator.vis(s, spec), cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"),
          round(col("metric"), 4).as("metric"), col("nsamples"),
          round(col("z"), 4).as("z"))
        .orderBy("pol", "time_idx", "freq_hz")
    },
    None, bench = true)

  /** Full read chain with the DATA-ESTIMATED coarse-band removal, certified
    * bit-for-bit: flag_choice -> remove_coarse_band (template = mean
    * unflagged amplitude per fine position, normalized to unit mean,
    * divided out) -> Auto select -> diff -> INS -> z, on the portable
    * bandpass fixture where every one of those steps is IEEE-exact (see
    * VisGenerator.portableBandpass). The oracle re-runs the whole chain in
    * SQL: same template estimation, same two divisions, same window diff
    * and exact-sum reductions — no rounding anywhere. */
  private[queries] val mwa07 = QueryDef("mwa07_readchain",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 16, nAnts = 4)
      val layout = ReadOps.FreqLayout(spec.freq0Hz, spec.dfHz, spec.nFine)
      val cfg = GraftConfig(removeFlaggedAnts = false, removeCoarseBand = true,
        flagInit = false, spectrumType = SpectrumType.Auto)
      val read = ReadOps.readChain(VisGenerator.portableBandpass(s, spec), cfg, layout)
      VisOps.spectrum(read, cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"),
          col("metric"), col("nsamples"), col("z"))
        .orderBy("pol", "time_idx", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS t, CAST(a1.range AS INT) AS a1,
                     CAST(a2.range AS INT) AS a2, CAST(f.range AS INT) AS f,
                     p.pol AS pol, p.pi AS pi
              FROM range(16) t, range(4) a1, range(4) a2, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)
              WHERE a1.range <= a2.range),
            vis AS (
              SELECT t, a1, a2, f, pol,
                (1 + ((f % 8) % 2) * 2) *
                (2.0 + (CASE WHEN t % 2 = 0 THEN 1.0 ELSE -1.0 END)
                         * (((a1*13 + a2*29 + pi*71) % 64) / 64.0)
                     + CASE WHEN t = 12 THEN 60.0 ELSE 0.0 END) AS re
              FROM g),
            tmpl AS (SELECT f % 8 AS pos, AVG(ABS(re)) AS gain
                     FROM vis GROUP BY 1),
            mg AS (SELECT AVG(gain) AS m FROM tmpl),
            corr AS (SELECT t, a1, a2, f, pol, re / (gain / m) AS re
                     FROM vis JOIN tmpl ON tmpl.pos = vis.f % 8 CROSS JOIN mg),
            autos AS (SELECT t, a1 AS ant, f, pol, re FROM corr WHERE a1 = a2),
            d AS (SELECT t, ant, f, pol,
                    LEAD(re) OVER (PARTITION BY ant, f, pol ORDER BY t) - re AS dre
                  FROM autos QUALIFY dre IS NOT NULL),
            i AS (SELECT t, f, pol, AVG(ABS(dre)) AS metric,
                    CAST(COUNT(*) AS DOUBLE) AS nsamples
                  FROM d GROUP BY 1, 2, 3)
            SELECT t AS time_idx, 130000000.0 + f * 40000.0 AS freq_hz, pol,
              metric, nsamples,
              (metric / AVG(metric) OVER (PARTITION BY f, pol) - 1)
                * SQRT(nsamples) AS z
            FROM i ORDER BY pol, time_idx, freq_hz"""))

  private[queries] val mwa05 = QueryDef("mwa05_observations",
    (s, d) => graft.mwa.Manifest.observations(
      graft.mwa.Manifest.fromPaths(s, mwaPaths))
      .select(col("obsid"), array_join(col("fits_files"), "|").as("fits_files"),
        col("metafits_stem"))
      .orderBy("obsid"),
    Some(s"""WITH f(file_path) AS (VALUES $mwaPathValues),
             m AS (SELECT file_path,
                     regexp_extract(file_path, '([^/]+)$$', 1) AS name FROM f),
             e AS (SELECT file_path,
                     regexp_extract(name, '\\.([^./]+)$$', 1) AS ext,
                     regexp_replace(name, '\\.[^.]*$$', '') AS stem FROM m),
             o AS (SELECT file_path, ext, stem,
                     split_part(stem, '_', 1) AS obsid FROM e),
             fits AS (SELECT obsid,
                        array_to_string(LIST(file_path ORDER BY file_path), '|')
                          AS fits_files
                      FROM o WHERE ext = 'fits' GROUP BY obsid),
             meta AS (SELECT obsid, arg_min(stem, file_path) AS metafits_stem
                      FROM o WHERE ext = 'metafits' GROUP BY obsid)
             SELECT fits.obsid, fits_files, metafits_stem
             FROM fits LEFT JOIN meta USING (obsid) ORDER BY obsid"""))

  /** Portable-arithmetic full chain (select Auto -> diff -> INS -> z) whose
    * values are dyadic rationals — every downstream sum is IEEE-exact and
    * order-independent, so the DuckDB oracle reproduces the spectrum
    * BIT-FOR-BIT with no rounding anywhere (see VisGenerator.portable). */
  /** The mwa08 oracle, shared verbatim with mwa13_spectrum_tsv (the TSV
    * export of the same view must round-trip bit-exactly). */
  private val mwa08Oracle: String = """WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a.range AS INT) AS ant,
                     CAST(f.range AS INT) AS freq_idx, p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(16) a, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)),
            c AS (
              SELECT time_idx, ant, freq_idx, pol,
                ((ant*18 + freq_idx*3 + pi*17) % 64)
                + CASE WHEN freq_idx = 5 AND time_idx BETWEEN 6 AND 9
                       THEN 40.0 ELSE 0.0 END
                + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
                + ((time_idx*37 + ant*42 + freq_idx*53 + pi*71) % 128 - 64) / 64.0
                  AS re
              FROM g),
            d AS (
              SELECT time_idx, ant, freq_idx, pol,
                LEAD(re) OVER (PARTITION BY ant, freq_idx, pol ORDER BY time_idx)
                  - re AS dre
              FROM c QUALIFY dre IS NOT NULL),
            i AS (
              SELECT time_idx, freq_idx, pol, AVG(ABS(dre)) AS metric,
                     CAST(COUNT(*) AS DOUBLE) AS nsamples
              FROM d GROUP BY time_idx, freq_idx, pol)
            SELECT time_idx, 130000000.0 + freq_idx * 40000.0 AS freq_hz, pol,
              metric, nsamples,
              (metric / AVG(metric) OVER (PARTITION BY freq_idx, pol) - 1)
                * SQRT(nsamples) AS z
            FROM i ORDER BY pol, time_idx, freq_hz"""

  private[queries] val mwa08 = QueryDef("mwa08_portable_spectrum",
    (s, d) => {
      import graft.mwa._
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto)
      VisOps.spectrum(VisGenerator.portable(s), cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"),
          col("metric"), col("nsamples"), col("z"))
        .orderBy("pol", "time_idx", "freq_hz")
    },
    Some(mwa08Oracle))

  /** Same portable chain with flag_init in front (coarse-band edge/center
    * channels + first integration flagged): certifies flag propagation
    * through diff (OR), the INS unflagged-only aggregation and the
    * zscore's null handling — still bit-exact, flags only remove terms
    * from exact sums. */
  private[queries] val mwa09 = QueryDef("mwa09_portable_flaginit",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 16)
      val layout = ReadOps.FreqLayout(spec.freq0Hz, spec.dfHz, spec.nFine)
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto)
      VisOps.spectrum(ReadOps.flagInit(VisGenerator.portable(s, spec), layout), cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"),
          col("metric"), col("nsamples"), col("z"))
        .orderBy("pol", "time_idx", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a.range AS INT) AS ant,
                     CAST(f.range AS INT) AS freq_idx, p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(16) a, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)),
            c AS (
              SELECT time_idx, ant, freq_idx, pol,
                ((ant*18 + freq_idx*3 + pi*17) % 64)
                + CASE WHEN freq_idx = 5 AND time_idx BETWEEN 6 AND 9
                       THEN 40.0 ELSE 0.0 END
                + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
                + ((time_idx*37 + ant*42 + freq_idx*53 + pi*71) % 128 - 64) / 64.0
                  AS re,
                ((freq_idx % 8) IN (0, 4, 7)) OR time_idx < 1 AS fl
              FROM g),
            d AS (
              SELECT time_idx, ant, freq_idx, pol,
                LEAD(re) OVER w - re AS dre,
                fl OR LEAD(fl) OVER w AS dfl
              FROM c WINDOW w AS (PARTITION BY ant, freq_idx, pol ORDER BY time_idx)
              QUALIFY dre IS NOT NULL),
            i AS (
              SELECT time_idx, freq_idx, pol,
                AVG(CASE WHEN NOT dfl THEN ABS(dre) END) AS metric,
                SUM(CASE WHEN NOT dfl THEN 1.0 ELSE 0.0 END) AS nsamples
              FROM d GROUP BY time_idx, freq_idx, pol)
            SELECT time_idx, 130000000.0 + freq_idx * 40000.0 AS freq_hz, pol,
              metric, nsamples,
              (metric / AVG(metric) OVER (PARTITION BY freq_idx, pol) - 1)
                * SQRT(nsamples) AS z
            FROM i ORDER BY pol, time_idx, freq_hz"""))

  /** Real FITS binary decode, certified row-by-row: the fixture is written
    * as standard MWAX-shaped gpubox FITS (2880-byte records, a float32
    * data IMAGE and a weights IMAGE per integration, big-endian —
    * Fits.writeVis) carrying the portable fixture's dyadic values, read
    * back through the DSv2 source's partition planning, one split per
    * whole gpubox file, and every decoded cell is matched against the oracle's independent
    * re-derivation of the same arithmetic. The values are exact in float32
    * and round-trip big-endian encoding bit-exactly, so any header-walk,
    * offset, coordinate or endianness defect breaks the hash. */
  private[queries] val mwa10 = QueryDef("mwa10_fits_read",
    (s, d) => {
      val dir = graft.mwa.Fits.ensureFixture()
      s.read.format("graft-vis").option("path", dir).load()
        .select(col("time_idx"), col("ant1"), col("ant2"), col("freq_hz"),
          col("pol"), col("vis_re"), col("vis_im"), col("flag"), col("nsample"))
        .orderBy("pol", "time_idx", "ant1", "ant2", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a1.range AS INT) AS ant1,
                     CAST(a2.range AS INT) AS ant2, CAST(f.range AS INT) AS f,
                     p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(4) a1, range(4) a2, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)
              WHERE a1.range <= a2.range)
            SELECT time_idx, ant1, ant2,
              130000000.0 + f * 40000.0 AS freq_hz, pol,
              ((ant1*7 + ant2*11 + f*3 + pi*17) % 64)
              + CASE WHEN f = 5 AND time_idx BETWEEN 6 AND 9
                     THEN 40.0 ELSE 0.0 END
              + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
              + ((time_idx*37 + ant1*13 + ant2*29 + f*53 + pi*71) % 128 - 64)
                / 64.0 AS vis_re,
              0.0 AS vis_im, false AS flag, 1.0 AS nsample
            FROM g ORDER BY pol, time_idx, ant1, ant2, freq_hz"""))

  /** Van Vleck arcsine-law correction certified row-by-row: every corrected
    * cross is sin(pi/2 * clamp(c/sqrt(p1*p2))) * sqrt(p1*p2) with the autos
    * looked up by (time, freq, pol, ant). The oracle mirrors the exact
    * operation order — products/sqrt/divisions are single correctly-rounded
    * ops, and the sine is the engine's portable Horner kernel
    * (ArrayExprs.sinKernel) written out verbatim in SQL, so the comparison
    * is bit-exact BY CONSTRUCTION (libm sin differs between glibc and
    * fdlibm by 1 ulp on this very fixture; a SIN() call could never
    * certify). Autos and non-positive-power rows pass through raw. */
  private[queries] val mwa11 = QueryDef("mwa11_vanvleck",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
      ReadOps.correctVanVleck(VisGenerator.portable(s, spec))
        .select(col("time_idx"), col("ant1"), col("ant2"), col("freq_hz"),
          col("pol"), col("vis_re"), col("vis_im"))
        .orderBy("pol", "time_idx", "ant1", "ant2", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a1.range AS INT) AS ant1,
                     CAST(a2.range AS INT) AS ant2, CAST(f.range AS INT) AS f,
                     p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(4) a1, range(4) a2, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)
              WHERE a1.range <= a2.range),
            c AS (
              SELECT time_idx, ant1, ant2, f, pol,
                ((ant1*7 + ant2*11 + f*3 + pi*17) % 64)
                + CASE WHEN f = 5 AND time_idx BETWEEN 6 AND 9
                       THEN 40.0 ELSE 0.0 END
                + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
                + ((time_idx*37 + ant1*13 + ant2*29 + f*53 + pi*71) % 128 - 64)
                  / 64.0 AS re
              FROM g),
            p AS (SELECT time_idx, ant1 AS ant, f, pol, re AS p
                  FROM c WHERE ant1 = ant2),
            j AS (SELECT c.time_idx, c.ant1, c.ant2, c.f, c.pol, c.re,
                    CASE WHEN p1.p > 0 AND p2.p > 0
                         THEN SQRT(p1.p * p2.p) END AS norm,
                    c.ant1 <> c.ant2 AND p1.p > 0 AND p2.p > 0 AS ok
                  FROM c
                  LEFT JOIN p p1 ON p1.time_idx = c.time_idx AND p1.f = c.f
                    AND p1.pol = c.pol AND p1.ant = c.ant1
                  LEFT JOIN p p2 ON p2.time_idx = c.time_idx AND p2.f = c.f
                    AND p2.pol = c.pol AND p2.ant = c.ant2),
            xx AS (SELECT *,
                     PI()/2 * GREATEST(-1.0, LEAST(1.0, re / norm)) AS x
                   FROM j),
            yy AS (SELECT *, x*x AS y FROM xx)
            SELECT time_idx, ant1, ant2,
              130000000.0 + f * 40000.0 AS freq_hz, pol,
              CASE WHEN ok THEN
                (x * (1.0 + y*(-1.0/6.0 + y*(1.0/120.0 + y*(-1.0/5040.0 +
                 y*(1.0/362880.0 + y*(-1.0/39916800.0 + y*(1.0/6227020800.0 +
                 y*(-1.0/1307674368000.0 + y*(1.0/355687428096000.0 +
                 y*(-1.0/121645100408832000.0 +
                 y*(1.0/51090942171709440000.0)))))))))))) * norm
              ELSE re END AS vis_re,
              0.0 AS vis_im
            FROM yy
            ORDER BY pol, time_idx, ant1, ant2, freq_hz"""))

  /** uvfits (FITS random-groups) decode, certified row-by-row: the fixture
    * is a single standard random-groups file (GROUPS=T, PCOUNT=5 UU/VV/WW/
    * BASELINE/DATE params, float32 (re,im,wt)×pol×freq group arrays, AIPS
    * 256*a1+a2 baseline code — the reference's second input family,
    * `configurators.py:43-48` via pyuvdata) carrying the same dyadic values
    * as the mwa10 gpubox fixture, so it shares mwa10's oracle verbatim.
    * Every value is exactly representable in float32, so any group-offset,
    * parameter-unpack, or axis-order defect breaks the hash. */
  private[queries] val mwa12 = QueryDef("mwa12_uvfits_read",
    (s, d) => {
      val dir = graft.mwa.Fits.Uvfits.ensureFixture()
      s.read.format("graft-vis").option("path", dir).load()
        .select(col("time_idx"), col("ant1"), col("ant2"), col("freq_hz"),
          col("pol"), col("vis_re"), col("vis_im"), col("flag"), col("nsample"))
        .orderBy("pol", "time_idx", "ant1", "ant2", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a1.range AS INT) AS ant1,
                     CAST(a2.range AS INT) AS ant2, CAST(f.range AS INT) AS f,
                     p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(4) a1, range(4) a2, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)
              WHERE a1.range <= a2.range)
            SELECT time_idx, ant1, ant2,
              130000000.0 + f * 40000.0 AS freq_hz, pol,
              ((ant1*7 + ant2*11 + f*3 + pi*17) % 64)
              + CASE WHEN f = 5 AND time_idx BETWEEN 6 AND 9
                     THEN 40.0 ELSE 0.0 END
              + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
              + ((time_idx*37 + ant1*13 + ant2*29 + f*53 + pi*71) % 128 - 64)
                / 64.0 AS vis_re,
              0.0 AS vis_im, false AS flag, 1.0 AS nsample
            FROM g ORDER BY pol, time_idx, ant1, ant2, freq_hz"""))

  /** uvh5 (HDF5) decode, certified row-by-row: the fixture is a minimal
    * standard HDF5 file (v0 superblock, symbol-table groups, contiguous
    * layout — `mwa/Hdf5.scala`) with the uvh5 /Header + /Data shape
    * (blt-major complex64 visdata, AIPS pol codes — the reference's third
    * input family via pyuvdata's UVH5 reader, `configurators.py:43-48`),
    * carrying the same dyadic values as the gpubox/uvfits fixtures, so it
    * shares mwa10's oracle verbatim. Any defect in the B-tree walk, heap
    * name resolution, datatype parse, or blt/freq/pol axis order breaks
    * the hash. */
  private[queries] val mwa16 = QueryDef("mwa16_uvh5_read",
    (s, d) => {
      val dir = graft.mwa.Uvh5.ensureFixture()
      s.read.format("graft-vis").option("path", dir).load()
        .select(col("time_idx"), col("ant1"), col("ant2"), col("freq_hz"),
          col("pol"), col("vis_re"), col("vis_im"), col("flag"), col("nsample"))
        .orderBy("pol", "time_idx", "ant1", "ant2", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a1.range AS INT) AS ant1,
                     CAST(a2.range AS INT) AS ant2, CAST(f.range AS INT) AS f,
                     p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(4) a1, range(4) a2, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)
              WHERE a1.range <= a2.range)
            SELECT time_idx, ant1, ant2,
              130000000.0 + f * 40000.0 AS freq_hz, pol,
              ((ant1*7 + ant2*11 + f*3 + pi*17) % 64)
              + CASE WHEN f = 5 AND time_idx BETWEEN 6 AND 9
                     THEN 40.0 ELSE 0.0 END
              + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
              + ((time_idx*37 + ant1*13 + ant2*29 + f*53 + pi*71) % 128 - 64)
                / 64.0 AS vis_re,
              0.0 AS vis_im, false AS flag, 1.0 AS nsample
            FROM g ORDER BY pol, time_idx, ant1, ant2, freq_hz"""))

  /** The reference's `export_tsv` path (`configurators.py:97`): write the
    * plot-shaped view as TSV, read it back with an explicit schema — so
    * the oracle certifies the serialization round-trip (including double
    * shortest-repr round-tripping), not just the computation. */
  private def tsvRoundTrip(s: SparkSession, df: DataFrame,
                           schema: String, tag: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_${tag}_").toString
    df.write.mode("overwrite").option("sep", "\t").csv(dir)
    // pin the read-back, then remove the staging dir: repeated
    // verify/bench runs leave /tmp flat
    val back = s.read.schema(schema).option("sep", "\t").csv(dir)
      .localCheckpoint(true)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    back
  }

  /** `plot_type="spectrum"` export view (`configurators.py:94-97`): the
    * tidy (time, freq, pol, metric, nsamples, z) INS z-score spectrum —
    * exactly what the reference plots/exports after the SSINS chain —
    * through the TSV sink and back. Shares mwa08's oracle verbatim, so a
    * hash match certifies the chain AND the TSV round-trip. */
  private[queries] val mwa13 = QueryDef("mwa13_spectrum_tsv",
    (s, d) => {
      import graft.mwa._
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto)
      val view = VisOps.spectrum(VisGenerator.portable(s), cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"),
          col("metric"), col("nsamples"), col("z"))
      tsvRoundTrip(s, view,
        "time_idx INT, freq_hz DOUBLE, pol STRING, metric DOUBLE, nsamples DOUBLE, z DOUBLE",
        "mwa13")
        .orderBy("pol", "time_idx", "freq_hz")
    },
    Some(mwa08Oracle))

  /** `plot_type="sigchain"` export view: per-signal-chain (antenna) mean
    * amplitude spectrum over the diffed data — each visibility attributed
    * to both its antennas, reduced per (ant, freq, pol) — through the TSV
    * sink. The oracle re-derives the per-antenna reduction independently. */
  private[queries] val mwa14 = QueryDef("mwa14_sigchain_tsv",
    (s, d) => {
      import graft.mwa._
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto)
      val view = VisOps.sigchainSpectrum(
          VisOps.diff(VisOps.selectSurface(VisGenerator.portable(s), cfg)))
        .select(col("ant"), col("freq_hz"), col("pol"),
          col("metric"), col("nsamples"))
      tsvRoundTrip(s, view,
        "ant INT, freq_hz DOUBLE, pol STRING, metric DOUBLE, nsamples DOUBLE",
        "mwa14")
        .orderBy("pol", "ant", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS time_idx, CAST(a.range AS INT) AS ant,
                     CAST(f.range AS INT) AS freq_idx, p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(16) a, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)),
            c AS (
              SELECT time_idx, ant, freq_idx, pol,
                ((ant*18 + freq_idx*3 + pi*17) % 64)
                + CASE WHEN freq_idx = 5 AND time_idx BETWEEN 6 AND 9
                       THEN 40.0 ELSE 0.0 END
                + CASE WHEN time_idx = 12 THEN 60.0 ELSE 0.0 END
                + ((time_idx*37 + ant*42 + freq_idx*53 + pi*71) % 128 - 64) / 64.0
                  AS re
              FROM g)
            SELECT ant, 130000000.0 + freq_idx * 40000.0 AS freq_hz, pol,
              AVG(ABS(dre)) AS metric, CAST(COUNT(*) AS DOUBLE) AS nsamples
            FROM (
              SELECT time_idx, ant, freq_idx, pol,
                LEAD(re) OVER (PARTITION BY ant, freq_idx, pol ORDER BY time_idx)
                  - re AS dre
              FROM c QUALIFY dre IS NOT NULL)
            GROUP BY ant, freq_idx, pol
            ORDER BY pol, ant, freq_hz"""))

  /** `plot_type="flags"` export view: the FULL match-filter mask (every
    * cell, flagged or not, with its event kind) in tidy form through the
    * TSV sink — the boolean occupancy grid the reference's flags plot
    * renders. Shares mwa04's recursive-CTE oracle body; only the final
    * projection differs (no WHERE flagged, `none` for unflagged cells so
    * the empty string survives the CSV round-trip unambiguously). */
  private[queries] val mwa15 = QueryDef("mwa15_flags_tsv",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
      val cfg = GraftConfig(removeFlaggedAnts = false,
        spectrumType = SpectrumType.Auto, tbAggro = 1.0 / 32)
      val insDf = VisOps.ins(VisOps.diff(
        VisOps.selectSurface(VisGenerator.portable(s, spec), cfg)))
      val view = MatchFilter(insDf, cfg)
        .select(col("time_idx"), col("freq_hz"), col("pol"), col("flagged"),
          when(col("event") === "", "none").otherwise(col("event")).as("event"))
      tsvRoundTrip(s, view,
        "time_idx INT, freq_hz DOUBLE, pol STRING, flagged BOOLEAN, event STRING",
        "mwa15")
        .orderBy("pol", "time_idx", "freq_hz")
    },
    Some(mwa04OracleBody + """
            SELECT t AS time_idx, 130000000.0 + f * 40000.0 AS freq_hz, pol,
              flagged, CASE WHEN event = '' THEN 'none' ELSE event END AS event
            FROM outp ORDER BY pol, time_idx, freq_hz"""))

  // mwa17–mwa25 give the SURVEY §2 rows that ScalaTest pins a full
  // rows+schema+hash gate pass:
  //  - mwa17 — G2 (obsid, ext) grouping (`configurators.py:238-248`)
  //  - mwa18 — S3/G5/O2 metadata-only distinct-sorted times
  //    (`processors.py:163-165, 187-189`)
  //  - mwa19 — W4/C9 batch plan + batch-count formula (`utils.py:20-47`,
  //    `processors.py:166-172`)
  //  - mwa20 — S7/G7 size-stat rollup (`configurators.py:263-265`,
  //    `utils.py:172-188`)
  //  - mwa21 — J4 channel-table compare + C1 error paths
  //    (`processors.py:88-105`, `utils.py:61-78`)
  //  - mwa22 — F1/F3/F4/F5/F6/F8 + W3 + C11: the full pyuvdata-select
  //    surface in one pass (`configurators.py:73-78`)
  //  - mwa23 — S6 antenna dimension schema (`utils.py:150-168`)
  //  - mwa24 — C5 suffix synthesis as a column expression
  //    (`configurators.py:125-134`)
  //  - mwa25 — F2 skip_ants + G3 per-coarse-channel reduction
  // All fixtures are the portable dyadic-rational generators
  // (VisGenerator.portable / literal path manifests), so every oracle
  // re-derives the input inside DuckDB and the comparison is exact — no
  // staging, no rounding.

  /** [[mwaPaths]] plus one flags TSV. */
  private val paths = mwaPaths :+ "/data/1234567891_flags.tsv"

  private val pathValues = paths.map(p => s"('$p')").mkString(", ")

  /** Shared DuckDB manifest derivation over the literal paths (the same
    * name/ext/stem/obsid scalar chain mwa01/mwa05 certify). */
  private val manifestCte =
    s"""f(file_path) AS (VALUES $pathValues),
       m AS (SELECT file_path,
               regexp_extract(file_path, '([^/]+)$$', 1) AS name FROM f),
       e AS (SELECT file_path, name,
               regexp_extract(name, '\\.([^./]+)$$', 1) AS ext,
               regexp_replace(name, '\\.[^.]*$$', '') AS stem FROM m),
       o AS (SELECT file_path, name, ext, stem,
               split_part(stem, '_', 1) AS obsid FROM e)"""

  /** mwa17 — G2: files grouped per (obsid, extension), each group a sorted
    * list (`configurators.py:238-248` file_groups_by_obsid). */
  private[queries] val mwa17 = QueryDef("mwa17_obsid_ext_groups",
    (s, d) => graft.mwa.Manifest.groupByObsidAndExtension(
      graft.mwa.Manifest.fromPaths(s, paths))
      .select(col("obsid"), col("ext"),
        array_join(col("files"), "|").as("files"))
      .orderBy("obsid", "ext"),
    Some(s"""WITH $manifestCte
             SELECT obsid, ext,
               array_to_string(LIST(file_path ORDER BY file_path), '|') AS files
             FROM o GROUP BY obsid, ext ORDER BY obsid, ext"""))

  /** mwa18 — S3/G5/O2: the metadata-only pass (read_data=False) learning
    * the distinct sorted times without touching payload columns; the
    * DuckDB side replays the fixture's time axis, jd = jd0 + idx*(2/86400)
    * being the identical correctly-rounded IEEE product+sum on both
    * engines. */
  private[queries] val mwa18 = QueryDef("mwa18_possible_times",
    (s, d) => graft.mwa.FitsProcessor.possibleTimes(
      graft.mwa.VisGenerator.portable(s)),
    Some("""SELECT CAST(r.range AS INT) AS time_idx,
              2460000.5 + r.range * (2.0 / 86400.0) AS time_jd
            FROM range(17) r ORDER BY time_idx"""))

  /** mwa19 — W4/C9: the reference's memory-bounded batch plan. The oracle
    * re-derives computeOptimalBatches(8 GB, leakage 7, 16 GB avail) = 6 and
    * the contiguous time slicing step = max(1, 17/6) = 2 in integer SQL, so
    * the formula itself (`utils.py:20-47`) is cross-engine certified, not
    * just its value. */
  private[queries] val mwa19 = QueryDef("mwa19_batch_plan",
    (s, d) => {
      val spec = graft.mwa.VisGenerator.Spec(nTimes = 17, nAnts = 16)
      require(spec.nTimes == 17 &&
        graft.mwa.Model.computeOptimalBatches(8, availMemGb = 16) == 6L,
        "mwa19: fixture/formula constants drifted from the SQL oracle")
      graft.mwa.FitsProcessor.batchPlan(
          graft.mwa.VisGenerator.portable(s, spec), sizeGb = 8, availMemGb = 16)
        .select(col("time_idx"), col("batch"))
        .orderBy("time_idx")
    },
    Some("""WITH p AS (SELECT CASE WHEN 8*7 < 16 THEN 1
                         ELSE (8*7 // 16) * 2 END AS batches),
              st AS (SELECT GREATEST(1, 17 // batches) AS step FROM p)
            SELECT CAST(r.range AS INT) AS time_idx,
              CAST(FLOOR(r.range / step) AS BIGINT) AS batch
            FROM range(17) r, st ORDER BY time_idx"""))

  /** mwa20 — S7/G7: per-extension file-count/size stats plus the grand
    * total in one ROLLUP pass (`configurators.py:263-265` sums what
    * `utils.py:172-188` measured); the G7 scalar is additionally pinned
    * in-build against the planted sizes. */
  private[queries] val mwa20 = QueryDef("mwa20_size_stats",
    (s, d) => {
      val sizes = Map(
        paths(0) -> 24L, paths(1) -> 24L, paths(2) -> 1L,
        paths(3) -> 10L, paths(4) -> 1L, paths(5) -> 10L)
      val m = graft.mwa.Manifest.fromPaths(s, paths, sizes)
      require(graft.mwa.Manifest.totalSizeMb(m) == 70L,
        "mwa20: planted sizes drifted from the SQL oracle")
      m.rollup("ext")
        .agg(count(lit(1)).as("n_files"), sum(col("size_mb")).as("total_mb"))
        .select(coalesce(col("ext"), lit("ALL")).as("ext"),
          col("n_files"), col("total_mb"))
        .orderBy("ext")
    },
    Some(s"""WITH sz(file_path, size_mb) AS (VALUES
               ('${paths(0)}', 24), ('${paths(1)}', 24), ('${paths(2)}', 1),
               ('${paths(3)}', 10), ('${paths(4)}', 1), ('${paths(5)}', 10)),
             e AS (SELECT size_mb,
                     regexp_extract(regexp_extract(file_path, '([^/]+)$$', 1),
                       '\\.([^./]+)$$', 1) AS ext FROM sz)
             SELECT COALESCE(ext, 'ALL') AS ext,
               COUNT(*) AS n_files, CAST(SUM(size_mb) AS BIGINT) AS total_mb
             FROM e GROUP BY ROLLUP(ext) ORDER BY ext"""))

  /** mwa21 — J4 + C1 error paths: processor validation over a planted
    * inconsistency. Two metafits channel tables share (gpubox, rec_chan)
    * pairs but differ in band edges, so the per-source table compare
    * (the O(n) replacement for the reference's O(n^2) pairwise
    * DataFrame.equals, `processors.py:88-105`) must fire; one fits file
    * names an absent gpubox and one carries no channel token at all,
    * covering both `utils.py:61-78` error branches through the J1
    * lookup. */
  private[queries] val mwa21 = QueryDef("mwa21_processor_validation",
    (s, d) => {
      import s.implicits._
      val manifest = graft.mwa.Manifest.fromPaths(s, Seq(
        "/d/1234567890_20230101000000_gpubox01_00.fits",
        "/d/1234567890_20230101000000_gpubox05_00.fits",
        "/d/1234567890_notoken_00.fits",
        "/d/1234567890.metafits",
        "/d/1234567891.metafits"))
      val channelTables = Seq(
        ("1234567890.metafits", 1, 128, 1.30e8, 1.3016e8, 1.3032e8),
        ("1234567890.metafits", 2, 129, 1.3032e8, 1.3048e8, 1.3064e8),
        ("1234567891.metafits", 1, 128, 1.30e8, 1.3016e8, 1.3032e8),
        ("1234567891.metafits", 2, 129, 1.40e8, 1.4016e8, 1.4032e8))
        .toDF("source", "gpubox_number", "rec_chan_number",
          "chan_start_hz", "chan_centre_hz", "chan_end_hz")
      graft.mwa.Validation.validateProcessor(s, manifest, channelTables)
        .orderBy("code", "message")
    },
    Some("""SELECT * FROM (VALUES
              ('channel_tables_differ',
               'Channels do not match between metafits files.'),
              ('channel_unresolved',
               'Filename 1234567890_notoken_00.fits does not contain channel information.'),
              ('channel_unresolved',
               'GPUBOX not found in metafits for 1234567890_20230101000000_gpubox05_00.fits.'))
            AS t(code, message) ORDER BY code, message"""))

  /** mwa22 — the full select surface in ONE certified pass on the portable
    * fixture: F1 sel_ants membership (C11 isin), F3 sel_pols, F4 freq
    * range, F5/W3 first-N-times, F6 flagged-antenna anti-join (antenna 15
    * IS in sel_ants but flagged, so the J5 anti-join is what removes it),
    * F8 cross-only. Every surviving cell's vis_re is re-derived by the
    * oracle from the dyadic generator arithmetic, so a wrong or missing
    * filter is a row-set mismatch and a wrong value is a hash mismatch. */
  private[queries] val mwa22 = QueryDef("mwa22_select_surface",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 16)
      require(spec.rfiFreqIdx == 5 && spec.rfiTimes == (6, 9) &&
        spec.rfiAmp == 40.0 && spec.streakTime == 12 && spec.streakAmp == 60.0 &&
        spec.freq0Hz == 130000000.0 && spec.dfHz == 40000.0,
        "mwa22: fixture constants drifted from the SQL oracle")
      val cfg = GraftConfig(
        selAnts = Seq(0, 1, 2, 3, 5, 15),
        selPols = Seq("XX"),
        freqRange = Some((130080000.0, 130320000.0)),
        timeLimit = Some(13),
        removeFlaggedAnts = true,
        spectrumType = SpectrumType.Cross)
      VisOps.selectSurface(VisGenerator.portable(s, spec), cfg,
          Some(VisGenerator.antennas(s, spec)))
        .select(col("time_idx"), col("ant1"), col("ant2"), col("freq_hz"),
          col("pol"), col("vis_re"))
        .orderBy("time_idx", "ant1", "ant2", "freq_hz")
    },
    Some("""WITH g AS (
              SELECT CAST(t.range AS INT) AS t, CAST(a1.range AS INT) AS a1,
                     CAST(a2.range AS INT) AS a2, CAST(f.range AS INT) AS f,
                     p.pol AS pol, p.pi AS pi
              FROM range(17) t, range(16) a1, range(16) a2, range(16) f,
                   (VALUES ('XX', 0)) p(pol, pi)
              WHERE a1.range < a2.range AND t.range < 13
                AND a1.range IN (0, 1, 2, 3, 5) AND a2.range IN (0, 1, 2, 3, 5)
                AND f.range BETWEEN 2 AND 8)
            SELECT t AS time_idx, a1 AS ant1, a2 AS ant2,
              130000000.0 + f * 40000.0 AS freq_hz, pol,
              ((a1*7 + a2*11 + f*3 + pi*17) % 64)
              + CASE WHEN f = 5 AND t BETWEEN 6 AND 9 THEN 40.0 ELSE 0.0 END
              + CASE WHEN t = 12 THEN 60.0 ELSE 0.0 END
              + ((t*37 + a1*13 + a2*29 + f*53 + pi*71) % 128 - 64) / 64.0
                AS vis_re
            FROM g ORDER BY time_idx, ant1, ant2, freq_hz"""))

  /** mwa23 — S6 + C6/C7: the antenna dimension (`utils.py:150-168`)
    * DERIVED from the raw rfinput layer, with the derivations themselves
    * under the gate: the oracle rebuilds the per-pol rfinput rows (raw
    * `ReceiverType.RRI` tokens, independent x/y flag bits) and re-derives
    * `flagged = fx || fy` (C7, `utils.py:160`) and the enum-prefix strip
    * (C6, `utils.py:166-168`) in SQL. Two specs are unioned so BOTH mixed
    * OR branches execute under the hash: the default 6-ant spec flags ant
    * 5 on X only (true||false), the 7-ant spec flags ant 6 on Y only
    * (false||true) — dropping either side of the OR, or the strip, is a
    * hash mismatch. Geometry uses `0.0 - ant*2.0` for north_m: the
    * round-11 red row was `ant * -2.0` yielding IEEE -0.0 at ant 0 on the
    * JVM vs +0.0 in DuckDB. */
  private[queries] val mwa23 = QueryDef("mwa23_antenna_dim",
    (s, d) => {
      import graft.mwa.VisGenerator
      VisGenerator.antennas(s)
        .unionAll(VisGenerator.antennas(s,
          VisGenerator.Spec(obsid = 987654321L, nAnts = 7)))
        .orderBy("obsid", "ant")
    },
    Some("""WITH specs AS (
              SELECT * FROM (VALUES (1234567890, 6), (987654321, 7)) s(obsid, n)),
            rf AS (
              SELECT s.obsid, CAST(a.range AS INT) AS ant, p.pol,
                a.range = s.n - 1 AND
                  CASE WHEN p.pol = 'X' THEN a.range % 2 = 1
                       ELSE a.range % 2 = 0 END AS flagged,
                CAST(a.range % 8 + 1 AS INT) AS rec_number,
                'RG6_90' AS flavour,
                a.range % 2 = 0 AS has_whitening_filter,
                'ReceiverType.RRI' AS rec_type
              FROM specs s, range(7) a, (VALUES ('X'), ('Y')) p(pol)
              WHERE a.range < s.n),
            agg AS (
              SELECT obsid, ant,
                bool_or(flagged) AS flagged,
                max(CASE WHEN pol = 'X' THEN rec_number END) AS rec_number,
                max(CASE WHEN pol = 'X' THEN flavour END) AS flavour,
                bool_or(CASE WHEN pol = 'X' THEN has_whitening_filter END)
                  AS has_whitening_filter,
                replace(max(CASE WHEN pol = 'X' THEN rec_type END),
                  'ReceiverType.', '') AS rec_type
              FROM rf GROUP BY obsid, ant)
            SELECT CAST(obsid AS BIGINT) AS obsid, ant,
              CAST(ant + 11 AS INT) AS tile_id,
              'Tile' || lpad(CAST(ant AS VARCHAR), 3, '0') AS tile_name,
              ant * 10.0 + 100.0 AS electrical_length_m,
              ant * 3.0 AS east_m,
              0.0 - ant * 2.0 AS north_m,
              377.0 AS height_m,
              flagged, rec_number, flavour, has_whitening_filter, rec_type
            FROM agg ORDER BY obsid, ant"""))

  /** mwa24 — C5: suffix synthesis over a config grid covering every branch
    * of `configurators.py:125-134` (type prefix only onto an empty base,
    * diff prepend, single-sel/skip antenna, single pol). The build also
    * pins the column expression row-for-row against the driver-side
    * [[graft.mwa.GraftConfig.derivedSuffix]], so the oracle certifies the
    * relational twin AND the typed API in one gate entry. */
  private[queries] val mwa24 = QueryDef("mwa24_suffix",
    (s, d) => {
      import s.implicits._
      import graft.mwa._
      val grid = Seq(
        (1, "cross", true, Seq[Int](), Seq[Int](), Seq[String](), ""),
        (2, "all", true, Seq[Int](), Seq[Int](), Seq[String](), ""),
        (3, "auto", false, Seq(3), Seq[Int](), Seq("XX"), ""),
        (4, "cross", true, Seq[Int](), Seq(7), Seq[String](), ""),
        (5, "cross", true, Seq(1, 2), Seq[Int](), Seq[String](), ".x"),
        (6, "all", false, Seq[Int](), Seq(4), Seq("YY"), ""),
        (7, "auto", true, Seq(12), Seq[Int](), Seq("YY"), ""),
        (8, "cross", false, Seq[Int](), Seq[Int](), Seq[String](), ""))
      val types = Map[String, SpectrumType]("all" -> SpectrumType.All,
        "auto" -> SpectrumType.Auto, "cross" -> SpectrumType.Cross)
      val df = grid
        .toDF("cfg_id", "spectrum_type", "diff", "sel_ants", "skip_ants",
          "sel_pols", "base")
        .select(col("cfg_id"), Model.suffixColumn(col("spectrum_type"),
          col("diff"), col("sel_ants"), col("skip_ants"), col("sel_pols"),
          col("base")).as("suffix"))
        .orderBy("cfg_id")
      val viaColumn = df.collect().map(_.getString(1))
      val viaModel = grid.map { case (_, ty, diff, sel, skip, pols, base) =>
        GraftConfig(diff = diff, selAnts = sel, skipAnts = skip,
          selPols = pols, suffix = base, spectrumType = types(ty)).derivedSuffix
      }
      require(viaColumn.sameElements(viaModel),
        "mwa24: suffixColumn drifted from GraftConfig.derivedSuffix")
      df
    },
    Some("""WITH cfg(cfg_id, stype, diff, sel_n, sel1, skip_n, skip1,
                     pol_n, pol1, base) AS (VALUES
              (1, 'cross', true,  0, 0,  0, 0, 0, '',   ''),
              (2, 'all',   true,  0, 0,  0, 0, 0, '',   ''),
              (3, 'auto',  false, 1, 3,  0, 0, 1, 'XX', ''),
              (4, 'cross', true,  0, 0,  1, 7, 0, '',   ''),
              (5, 'cross', true,  2, 1,  0, 0, 0, '',   '.x'),
              (6, 'all',   false, 0, 0,  1, 4, 1, 'YY', ''),
              (7, 'auto',  true,  1, 12, 0, 0, 1, 'YY', ''),
              (8, 'cross', false, 0, 0,  0, 0, 0, '',   '')),
            s1 AS (SELECT *, CASE WHEN stype <> 'all' AND base = ''
                     THEN '.' || stype ELSE base END AS a FROM cfg),
            s2 AS (SELECT *, CASE WHEN diff THEN '.diff' || a ELSE a END AS b
                   FROM s1),
            s3 AS (SELECT *, CASE WHEN sel_n = 1 THEN b || '.' || sel1
                     WHEN skip_n = 1 THEN b || '.no' || skip1
                     ELSE b END AS c FROM s2)
            SELECT cfg_id,
              CASE WHEN pol_n = 1 THEN c || '.' || pol1 ELSE c END AS suffix
            FROM s3 ORDER BY cfg_id"""))

  /** mwa25 — F2 skip_ants (neither antenna in the skip list) + G3: the
    * per-coarse-channel reduction over the surviving grid, amplitude
    * sqrt(re^2+im^2) collapsing exactly to |re| on the portable fixture
    * (re^2 is a 27-bit dyadic square, its correctly-rounded sqrt IS |re|),
    * so sums stay order-independent exact under any partitioning. */
  private[queries] val mwa25 = QueryDef("mwa25_channel_reduce",
    (s, d) => {
      import graft.mwa._
      val spec = VisGenerator.Spec(nTimes = 17, nAnts = 16)
      val cfg = GraftConfig(skipAnts = Seq(0, 7), removeFlaggedAnts = false,
        spectrumType = SpectrumType.All)
      VisOps.selectSurface(VisGenerator.portable(s, spec), cfg)
        .groupBy(col("coarse_chan"), col("pol"))
        .agg(avg(sqrt(col("vis_re") * col("vis_re") +
            col("vis_im") * col("vis_im"))).as("metric"),
          count(lit(1)).as("n"))
        .orderBy("coarse_chan", "pol")
    },
    Some("""WITH g AS (
              SELECT CAST(f.range // 8 AS INT) AS coarse_chan, p.pol AS pol,
                ABS(((a1.range*7 + a2.range*11 + f.range*3 + p.pi*17) % 64)
                + CASE WHEN f.range = 5 AND t.range BETWEEN 6 AND 9
                       THEN 40.0 ELSE 0.0 END
                + CASE WHEN t.range = 12 THEN 60.0 ELSE 0.0 END
                + ((t.range*37 + a1.range*13 + a2.range*29 + f.range*53
                    + p.pi*71) % 128 - 64) / 64.0) AS amp
              FROM range(17) t, range(16) a1, range(16) a2, range(16) f,
                   (VALUES ('XX', 0), ('YY', 1)) p(pol, pi)
              WHERE a1.range <= a2.range
                AND a1.range NOT IN (0, 7) AND a2.range NOT IN (0, 7))
            SELECT coarse_chan, pol, AVG(amp) AS metric, COUNT(*) AS n
            FROM g GROUP BY coarse_chan, pol ORDER BY coarse_chan, pol"""))
}
