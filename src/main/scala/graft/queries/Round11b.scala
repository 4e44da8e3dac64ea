package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.Catalog.QueryDef

/** Round-11 second wave: oracled certification for the SURVEY §2 rows that
  * were previously pinned by ScalaTest only. Each query here upgrades a
  * "spec" row of the coverage matrix to a full rows+schema+hash gate pass:
  *
  *  - mwa17 — G2 (obsid, ext) grouping (`configurators.py:238-248`)
  *  - mwa18 — S3/G5/O2 metadata-only distinct-sorted times
  *    (`processors.py:163-165, 187-189`)
  *  - mwa19 — W4/C9 batch plan + batch-count formula (`utils.py:20-47`,
  *    `processors.py:166-172`)
  *  - mwa20 — S7/G7 size-stat rollup (`configurators.py:263-265`,
  *    `utils.py:172-188`)
  *  - mwa21 — J4 channel-table compare + C1 error paths
  *    (`processors.py:88-105`, `utils.py:61-78`)
  *  - mwa22 — F1/F3/F4/F5/F6/F8 + W3 + C11: the full pyuvdata-select
  *    surface in one pass (`configurators.py:73-78`)
  *  - mwa23 — S6 antenna dimension schema (`utils.py:150-168`)
  *  - mwa24 — C5 suffix synthesis as a column expression
  *    (`configurators.py:125-134`)
  *  - mwa25 — F2 skip_ants + G3 per-coarse-channel reduction
  *
  * All fixtures are the portable dyadic-rational generators
  * (VisGenerator.portable / literal path manifests), so every oracle
  * re-derives the input inside DuckDB and the comparison is exact — no
  * staging, no rounding.
  */
object R11b {

  private val paths = Seq(
    "/data/1234567890_20230101000000_gpubox01_00.fits",
    "/data/1234567890_20230101000000_gpubox02_00.fits",
    "/data/1234567890.metafits",
    "/data/1234567891_20230101000100_ch133_00.fits",
    "/data/1234567891.metafits",
    "/data/1234567891_flags.tsv")

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
  private val mwa17 = QueryDef("mwa17_obsid_ext_groups",
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
  private val mwa18 = QueryDef("mwa18_possible_times",
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
  private val mwa19 = QueryDef("mwa19_batch_plan",
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
  private val mwa20 = QueryDef("mwa20_size_stats",
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
  private val mwa21 = QueryDef("mwa21_processor_validation",
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
  private val mwa22 = QueryDef("mwa22_select_surface",
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
  private val mwa23 = QueryDef("mwa23_antenna_dim",
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
  private val mwa24 = QueryDef("mwa24_suffix",
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
  private val mwa25 = QueryDef("mwa25_channel_reduce",
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

  /** s22 — STREAMING AS-OF JOIN (J9's streaming execution —
    * StatefulOps.StreamAsOfProcessor): purchases enriched with the latest
    * at-or-before view per user, run as a two-phase time-ordered feed
    * (all pre-cut events, processAllAvailable, controlled stop; post-cut
    * events appended; RESTART from the checkpoint — so the O(1) per-key
    * LOCF state is also recovered from RocksDB mid-stream). The oracle is
    * the batch as-of twin in SQL with the identical inclusive bound and
    * (ts, event_id) tie-break: an early/late/dropped emission, a
    * wrong tie pick, or state lost across the restart is a hash
    * mismatch. */
  private val s22 = QueryDef("s22_stream_asof",
    (s, d) => {
      import graft.streaming.StatefulOps
      val t0 = System.nanoTime()
      var streamNanos = 0L // time INSIDE processAllAvailable (actual LOCF work)
      // per-phase durationMs across both halves (the s19 decomposition):
      // plan = latestOffset+getBatch+queryPlanning, drain = addBatch,
      // commit = walCommit+commitOffsets
      val dur = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      val base = java.nio.file.Files.createTempDirectory("graft_s22_")
      val (src, ck, sink) = (s"$base/src", s"$base/ck", s"$base/sink")
      val cut = "2024-01-16 00:00:00"
      val tagged = Tables.events(s, d)
        .filter(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), (col("event_type") === "view").as("is_ref"),
          col("ts").cast("timestamp").as("ts"), col("event_id"),
          Catalog.centi(col("value")).as("value_centi"))
      // Scale-adaptive STATE partitioning (guide §2: derive partition
      // counts from input size, not a constant): the stream's state-store
      // partition count is fixed at first run from
      // spark.sql.shuffle.partitions, and each partition carries a fixed
      // per-batch RocksDB instance cost (open/commit/native churn) that
      // does NOT parallelize cleanly — measured at sf0.1 (3-run bench
      // arms, same epoch): 32 instances drain 2.45s, 8 instances 1.81s,
      // identical output. Partitions derive from the INPUT's plan-time
      // size estimate (~8MB of input per state partition, floor 4),
      // capped by the session's configured shuffle.partitions — so at
      // cluster scale the cap (cluster-tuned conf) governs and the rule
      // only trims the small-input regime; the driver's lower-core bench
      // leg keeps its own cap the same way.
      val inputBytes = tagged.queryExecution.optimizedPlan.stats.sizeInBytes
      val sessParts = s.conf.get("spark.sql.shuffle.partitions").toInt
      val stateParts = math.min(sessParts.toLong,
        math.max(4L, (inputBytes / (8L << 20)).toLong + 1L)).toInt
      def run(): Unit = {
        val conf = "spark.sql.streaming.stateStore.providerClass"
        val partsConf = "spark.sql.shuffle.partitions"
        val prev = s.conf.getOption(conf)
        val prevParts = s.conf.getOption(partsConf)
        s.conf.set(conf,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        s.conf.set(partsConf, stateParts.toString)
        try {
          import s.implicits._
          val stream = s.readStream.schema(tagged.schema).parquet(src)
            .as[StatefulOps.AsOfSideRow]
          val q = StatefulOps.streamAsOfJoin(stream).toDF()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ck)
            .outputMode("append").start()
          val s0 = System.nanoTime()
          try { q.processAllAvailable()
            graft.streaming.EventStreams.assertDrained(q, "s22_asof")
          } finally { streamNanos += System.nanoTime() - s0
            q.recentProgress.foreach(p =>
              p.durationMs.forEach((k, v) => dur(k) += v))
            q.stop() }
        } finally {
          prev match {
            case Some(p) => s.conf.set(conf, p)
            case None => s.conf.unset(conf)
          }
          prevParts match {
            case Some(p) => s.conf.set(partsConf, p)
            case None => s.conf.unset(partsConf)
          }
        }
      }
      tagged.filter(col("ts") < cut).repartition(2)
        .write.mode("append").parquet(src)
      run() // phase 1: every pre-cut event, then a controlled kill
      tagged.filter(col("ts") >= cut).repartition(2)
        .write.mode("append").parquet(src)
      run() // restart: recover offsets + per-key LOCF state, finish the log
      val out = s.read.parquet(sink).localCheckpoint(true)
      // breakdown for the bench artifact (task: make the s22 headline
      // interpretable): input-record count comes from parquet row-group
      // metadata (no data scan), stream_sec is the processAllAvailable
      // time, everything else — temp dirs, source writes, checkpoint
      // setup, the controlled kill + restart — is scaffold_sec
      val nIn = s.read.parquet(src).count()
      val streamSec = streamNanos / 1e9
      BenchAux.put("s22_stream_asof",
        "stream_sec" -> streamSec,
        "scaffold_sec" -> ((System.nanoTime() - t0) / 1e9 - streamSec),
        "plan_sec" -> ((dur("latestOffset") + dur("getBatch") +
          dur("queryPlanning")) / 1e3),
        "drain_sec" -> dur("addBatch") / 1e3,
        "commit_sec" -> ((dur("walCommit") + dur("commitOffsets")) / 1e3),
        "input_records" -> nIn.toDouble,
        "records_per_sec" -> (if (streamSec > 0) nIn / streamSec else 0.0))
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      out.select(col("purchase_id"), col("user_id"),
          col("ts").cast("timestamp_ntz").as("ts"),
          col("view_id"), col("view_value_centi"))
        .orderBy("purchase_id")
    },
    Some("""WITH v AS (SELECT user_id, ts, event_id,
                CAST(ROUND(value * 100) AS BIGINT) AS vc
              FROM events WHERE event_type = 'view'),
            t AS (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'purchase'),
            j AS (SELECT t.event_id AS pid, t.user_id AS uid, t.ts AS tts,
                    v.event_id AS vid, v.ts AS vts, v.vc AS vvc
                  FROM t LEFT JOIN v
                    ON v.user_id = t.user_id AND v.ts <= t.ts),
            r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY pid
                    ORDER BY vts DESC NULLS LAST, vid DESC) AS rn FROM j)
            SELECT pid AS purchase_id, uid AS user_id, tts AS ts,
              vid AS view_id, vvc AS view_value_centi
            FROM r WHERE rn = 1 ORDER BY purchase_id"""), bench = true)

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
  private val d28 = QueryDef("d28_kcore",
    (s, d) => {
      val e0 = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("src"),
          (lit(1000000000L) + col("l_partkey")).as("dst"))
        .distinct()
      graft.operators.Graph.kCore(e0, k = 6, maxRounds = 20).orderBy("id")
    },
    Some(kCoreOracle(rounds = 20, k = 6)), bench = true)

  /** Round-15 fuzzer-finding regression (FUZZ_r15_sf01 f0068/f0137):
    * standard-SQL grand-total row for ROLLUP over a runtime-empty input
    * (filter satisfiable-looking but matching zero rows). Native Spark
    * drops the ()-set row; `EmptyGroupingSetsRewrite` (GraftExtensions)
    * restores it — this query certifies the fixed semantics against the
    * DuckDB oracle every round, including the grouping() mask fold. */
  private val q72 = QueryDef("q72_rollup_empty",
    (s, d) => Tables.customer(s, d)
      .filter(length(col("c_mktsegment")) > 11)
      .rollup(col("c_nationkey"))
      .agg(min(col("c_name")).as("min_name"), count(lit(1)).as("cnt"),
        grouping(col("c_nationkey")).cast("int").as("g"))
      .select(col("c_nationkey").as("nk"), col("min_name"), col("cnt"), col("g"))
      .orderBy(col("nk").asc_nulls_first),
    Some("""SELECT c_nationkey AS nk, MIN(c_name) AS min_name,
            COUNT(*) AS cnt, CAST(GROUPING(c_nationkey) AS INT) AS g
            FROM customer WHERE length(c_mktsegment) > 11
            GROUP BY ROLLUP(c_nationkey) ORDER BY nk NULLS FIRST"""))

  /** Round-16 fuzzer-finding regression (FUZZ_r16_sf01 f0151/f0154):
    * `grouping()` / `grouping_id()` in HAVING under an ALIASED select
    * list — standard SQL that DuckDB/PostgreSQL accept and native Spark
    * fails to resolve (UNRESOLVED_COLUMN suggesting the output aliases).
    * `GroupingInHavingRewrite` (GraftExtensions) substitutes the gid
    * arithmetic for the stuck TempResolvedColumn form; this query
    * certifies the fixed semantics against the DuckDB oracle every
    * round: a two-column CUBE with the subtotal levels selected via
    * HAVING grouping_id(...) <> 0 and one level pinned by grouping(). */
  private val q73 = QueryDef("q73_grouping_having",
    (s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("q73_customer")
      s.sql("""SELECT t0.c_nationkey AS nk, t0.c_mktsegment AS seg,
                      COUNT(*) AS cnt, CAST(SUM(CAST(FLOOR(t0.c_acctbal * 100
                        + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
               FROM q73_customer t0
               GROUP BY CUBE(t0.c_nationkey, t0.c_mktsegment)
               HAVING grouping_id(t0.c_nationkey, t0.c_mktsegment) <> 0
                  AND grouping(t0.c_mktsegment) = 1
               ORDER BY nk NULLS FIRST, seg NULLS FIRST""")
    },
    Some("""SELECT t0.c_nationkey AS nk, t0.c_mktsegment AS seg,
            COUNT(*) AS cnt, CAST(SUM(CAST(FLOOR(t0.c_acctbal * 100
              + 0.5) AS BIGINT)) AS BIGINT) AS bal_cents
            FROM customer t0
            GROUP BY CUBE(t0.c_nationkey, t0.c_mktsegment)
            HAVING grouping_id(t0.c_nationkey, t0.c_mktsegment) <> 0
               AND grouping(t0.c_mktsegment) = 1
            ORDER BY nk NULLS FIRST, seg NULLS FIRST"""))

  val all: Seq[QueryDef] = Seq(mwa17, mwa18, mwa19, mwa20, mwa21, mwa22,
    mwa23, mwa24, mwa25, s22, d28, q72, q73)
}
