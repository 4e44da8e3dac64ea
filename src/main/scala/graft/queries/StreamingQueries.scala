package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{RelationalOps, Sampling}
import graft.queries.Catalog.{QueryDef, sizedPartitions, withConfs}
import graft.queries.DedupQueries.{d21Fixture, d21Oracle}
import graft.queries.MwaQueries.mwa04Oracle

/** Streaming rows: real Structured Streaming executions, run to
  * completion, each oracled against the batch answer it must reproduce. */
object StreamingQueries {

  /** The state store every stateful row runs on, set only for its build. */
  private val rocksDbStore = "spark.sql.streaming.stateStore.providerClass" ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** REAL Structured Streaming executions (memory sink, run to completion
    * over the finite file source) whose results the batch oracle certifies
    * — batch/stream parity as the correctness contract. */
  private[queries] val s01 = QueryDef("s01_stream_hourly",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, hourlyCounts(eventsStream(s, d)))
        .select(col("w").cast("timestamp_ntz").as("w"), col("event_type"),
          col("n"), col("sv"))
        .orderBy("w", "event_type")
    },
    Some("""SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w, event_type,
              COUNT(*) AS n,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
            FROM events GROUP BY w, event_type ORDER BY w, event_type"""))

  private[queries] val s02 = QueryDef("s02_stream_sessions",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, userSessions(eventsStream(s, d)))
        .groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id, COUNT(DISTINCT sess) AS n_sessions FROM (
              SELECT user_id, SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sess
              FROM (SELECT user_id, ts, event_id,
                      DATE_DIFF('second', LAG(ts) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
                    FROM events) g) t
            GROUP BY user_id ORDER BY user_id"""))

  /** REAL stream-stream interval join (append mode, watermarked both
    * sides), certified by the equivalent batch join in DuckDB. */
  private[queries] val s03 = QueryDef("s03_stream_join",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, purchaseSignupJoin(eventsStream(s, d)), outputMode = "append")
        .orderBy("purchase_id", "signup_id")
    },
    Some("""SELECT p.event_id AS purchase_id, s.event_id AS signup_id
            FROM events p JOIN events s ON p.user_id = s.user_id
              AND p.event_type = 'purchase' AND s.event_type = 'signup'
              AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY
            ORDER BY purchase_id, signup_id"""))

  /** REAL sliding-window streaming aggregation (1h window, 15m slide — the
    * §2.10 variant tumbling/session didn't cover). The oracle enumerates
    * each event's 4 containing windows explicitly: window starts are the
    * 15-minute-aligned instants in (ts - 1h, ts]. */
  private[queries] val s04 = QueryDef("s04_stream_sliding",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, slidingCounts(eventsStream(s, d)))
        .select(col("w").cast("timestamp_ntz").as("w"), col("event_type"),
          col("n"), col("sv"))
        .orderBy("w", "event_type")
    },
    Some("""SELECT make_timestamp((epoch_us(ts) // 1000000 // 900 - j.range) * 900
                     * 1000000) AS w,
              event_type, COUNT(*) AS n,
              ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sv
            FROM events, range(4) j
            GROUP BY w, event_type ORDER BY w, event_type"""))

  /** REAL watermarked streaming dedup (append mode, RocksDB-backed dedup
    * state), certified by key-set parity: the deduped stream must emit
    * EXACTLY ONE row per distinct (user_id, event_type) — projecting to
    * the key columns makes the output deterministic even though which
    * physical row survives is not, and any duplicate or dropped key breaks
    * the row/hash compare against the batch DISTINCT. */
  private[queries] val s05 = QueryDef("s05_stream_dedup",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, dedupedStream(eventsStream(s, d)), outputMode = "append")
        .select(col("user_id"), col("event_type"))
        .orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type"""))

  /** mwa04's portable fixture as INS cells, the input every streaming
    * match-filter row (s06, s07, s20, s21) replays against mwa04's oracle:
    * the cells, the filter config, and the cells per (obsid, pol) the
    * filter waits for (the diff drops one time, so (nTimes - 1) x nFreqs). */
  private def mfInsCells(s: SparkSession, row: String)
      : (DataFrame, graft.mwa.GraftConfig, Int) = {
    import graft.mwa._
    val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
    val cfg = GraftConfig(removeFlaggedAnts = false,
      spectrumType = SpectrumType.Auto, tbAggro = 1.0 / 32)
    require(spec.nTimes == 17 && spec.nCoarse * spec.nFine == 16,
      s"$row: fixture shape drifted from the shared mwa04 oracle")
    val insDf = VisOps.ins(VisOps.diff(
        VisOps.selectSurface(VisGenerator.portable(s, spec), cfg)))
      .select(col("obsid"), col("time_idx"), col("freq_hz"), col("pol"),
        col("metric").cast("double"), col("nsamples").cast("double"))
    (insDf, cfg, (spec.nTimes - 1) * spec.nCoarse * spec.nFine)
  }

  /** STREAMING execution of the SSINS match filter on the mwa04 portable
    * fixture: INS cells are re-played as a 4-file parquet stream
    * (maxFilesPerTrigger=1 -> 4 micro-batches), accumulated per
    * (obsid, pol) in RocksDB ListState, and the greedy fixpoint runs
    * exactly once per observation when its known spectrum shape completes
    * (StatefulOps.MatchFilterProcessor). Shares mwa04's bit-exact
    * recursive-CTE oracle — streaming and batch must agree to the hash. */
  private[queries] val s06 = QueryDef("s06_stream_mf",
    (s, d) => {
      import graft.mwa._
      val t0 = System.nanoTime()
      val (insDf, cfg, expected) = mfInsCells(s, "s06")
      val dir = java.nio.file.Files.createTempDirectory("graft_s06_").toString
      insDf.repartition(4).write.mode("overwrite").parquet(dir)
      withConfs(s, rocksDbStore) {
        import s.implicits._
        val stream = s.readStream.schema(insDf.schema)
          .option("maxFilesPerTrigger", 1).parquet(dir)
          .as[MatchFilter.InsCell]
        val flags = graft.streaming.StatefulOps
          .matchFilterStream(stream, cfg, expected).toDF()
        val s0 = System.nanoTime()
        val ran = graft.streaming.EventStreams
          .runToBatch(s, flags, outputMode = "append")
        // bench interpretability (round-17 verdict task 7): split the
        // stream's processAllAvailable wall from the fixture/staging
        // scaffold, same fields as s22's aux
        val streamSec = (System.nanoTime() - s0) / 1e9
        val nIn = s.read.parquet(dir).count()
        BenchAux.put("s06_stream_mf",
          "stream_sec" -> streamSec,
          "scaffold_sec" -> ((System.nanoTime() - t0) / 1e9 - streamSec),
          "input_records" -> nIn.toDouble,
          "records_per_sec" -> (if (streamSec > 0) nIn / streamSec else 0.0))
        val out = ran
          .filter(col("flagged"))
          .select("time_idx", "freq_hz", "pol", "event")
          .orderBy("pol", "time_idx", "freq_hz")
        // the memory sink holds the rows; the staging parquet can go now
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        out
      }
    },
    Some(mwa04Oracle))

  /** WATERMARK-TIMER streaming execution of the SSINS match filter on the
    * same mwa04 portable fixture: where s06 closes an observation by its
    * KNOWN spectrum shape, this variant closes by event-time SILENCE — an
    * event-time timer re-registered at (max seen ts + closeOut) fires when
    * the watermark passes it (StatefulOps.MatchFilterTimerProcessor), the
    * production shape when observation length is not known a priori. INS
    * cells are stamped ts = base + time_idx seconds and fed through a
    * MemoryStream in two lopsided batches; a far-future sentinel key then
    * advances the watermark past every real deadline (two rounds: the
    * watermark computed at batch N gates the timers of batch N+1). Shares
    * mwa04's bit-exact recursive-CTE oracle — close-out by silence must
    * produce the identical fixpoint. */
  private[queries] val s07 = QueryDef("s07_stream_mf_timer",
    (s, d) => {
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val (insDf, cfg, _) = mfInsCells(s, "s07")
      import s.implicits._
      val base = 1700000000000L
      val cells = insDf.collect().map { r =>
        graft.streaming.StatefulOps.InsCellTs(r.getLong(0), r.getInt(1),
          r.getDouble(2), r.getString(3), r.getDouble(4), r.getDouble(5),
          new java.sql.Timestamp(base + r.getInt(1) * 1000L))
      }
      withConfs(s, rocksDbStore) {
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val mem = MemoryStream[graft.streaming.StatefulOps.InsCellTs]
        // watermark delay must cover the lopsided-batch arrival disorder
        // (event-time mode drops rows older than the watermark); close-out
        // must exceed the 1 s in-observation event-time stride
        val withWm = mem.toDS().withWatermark("ts", "1 hour")
        val q = graft.streaming.StatefulOps
          .matchFilterStreamEventTime(withWm, cfg, closeOutMs = 30000L)
          .toDF().writeStream.format("memory").queryName("s07_out")
          .outputMode("append").start()
        try {
          mem.addData(cells.take(150).toSeq)
          q.processAllAvailable()
          mem.addData(cells.drop(150).toSeq)
          q.processAllAvailable()
          val sentinel = graft.streaming.StatefulOps.InsCellTs(9999L, 0, 0.0,
            "XX", 0.0, 4.0, new java.sql.Timestamp(base + 10 * 3600 * 1000L))
          mem.addData(Seq(sentinel))
          q.processAllAvailable()
          mem.addData(Seq(sentinel.copy(time_idx = 1)))
          q.processAllAvailable()
          graft.streaming.EventStreams.assertDrained(q, "s07")
        } finally q.stop()
        s.table("s07_out").filter(col("obsid") =!= 9999L)
          .filter(col("flagged"))
          .select("time_idx", "freq_hz", "pol", "event")
          .orderBy("pol", "time_idx", "freq_hz")
      }
    },
    Some(mwa04Oracle))

  /** Exactly-once recovery across a query RESTART, oracled: half the
    * events flow through a checkpointed dropDuplicates stream, the query
    * stops (a controlled kill), the other half lands, and a NEW query
    * restarts from the same checkpoint. The sink must hold exactly the
    * batch-distinct answer — state recovered, no duplicates, no gaps.
    * Shares s05's oracle; only the execution path (kill + recovery)
    * differs. StreamingSpec pins the same contract; this puts it under
    * the DuckDB gate. */
  private[queries] val s08 = QueryDef("s08_stream_restart",
    (s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_s08_")
      val (src, ck, sink) = (s"$base/src", s"$base/ck", s"$base/sink")
      val events = Tables.events(s, d).select("event_id", "user_id", "event_type")
      events.filter(col("event_id") % 2 === 0)
        .write.mode("overwrite").parquet(s"$src/batchA")
      def run(): Unit = {
        val q = s.readStream.schema(s.read.parquet(s"$src/batchA").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
          // plain dropDuplicates (no watermark): the strict
          // exactly-once-per-key contract — state never expires
          .dropDuplicates("user_id", "event_type")
          .select("user_id", "event_type")
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ck)
          .outputMode("append").start()
        try { q.processAllAvailable()
          graft.streaming.EventStreams.assertDrained(q, "s08_restart")
        } finally q.stop()
      }
      run() // half A, then the controlled kill
      events.filter(col("event_id") % 2 === 1)
        .write.mode("overwrite").parquet(s"$src/batchB")
      run() // restart from the checkpoint over both halves
      val out = s.read.parquet(sink).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      out.orderBy("user_id", "event_type")
    },
    Some("""SELECT DISTINCT user_id, event_type FROM events
            ORDER BY user_id, event_type"""))

  /** Mid-observation RESTART of the stateful match filter — s08's
    * kill-and-recover technique over s06's transformWithState pipeline:
    * the first run ingests only HALF the observation's INS cells, so the
    * fixpoint cannot run, nothing is emitted, and the accumulated
    * ListState + running counter survive ONLY in the RocksDB checkpoint
    * at the controlled kill (a require pins that the sink is still
    * empty). The remaining cells then land and a NEW query resumes from
    * the checkpoint: recovered state + new cells complete the
    * observation and the fixpoint runs on a mix of pre- and post-restart
    * state. mwa04's bit-exact recursive-CTE oracle certifies that
    * recovery changed NOTHING — same flags, same events, bit-for-bit. */
  private[queries] val s20 = QueryDef("s20_stream_mf_restart",
    (s, d) => {
      import graft.mwa._
      val t0 = System.nanoTime()
      var streamNanos = 0L
      val (insDf, cfg, expected) = mfInsCells(s, "s20")
      val base = java.nio.file.Files.createTempDirectory("graft_s20_")
      val (src, ck, sink) = (s"$base/src", s"$base/ck", s"$base/sink")
      withConfs(s, rocksDbStore) {
        import s.implicits._
        def run(): Unit = {
          val stream = s.readStream.schema(insDf.schema)
            .option("maxFilesPerTrigger", 1).parquet(src)
            .as[MatchFilter.InsCell]
          val q = graft.streaming.StatefulOps
            .matchFilterStream(stream, cfg, expected).toDF()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ck)
            .outputMode("append").start()
          val s0 = System.nanoTime()
          try { q.processAllAvailable()
            graft.streaming.EventStreams.assertDrained(q, "s20_restart")
          } finally { streamNanos += System.nanoTime() - s0; q.stop() }
        }
        // half the observation (8 of 16 diffed times), then the kill
        insDf.filter(col("time_idx") <= 8).repartition(2)
          .write.mode("overwrite").parquet(src)
        run()
        // the sink writes (empty) part files per micro-batch; ROWS are
        // what must not have been emitted before the kill
        require(s.read.parquet(sink).isEmpty,
          "s20: observation completed before the kill — restart not exercised")
        // the rest of the observation; restart recovers mid-observation
        insDf.filter(col("time_idx") > 8).repartition(2)
          .write.mode("append").parquet(src)
        run()
        val out = s.read.parquet(sink).localCheckpoint(true)
        // bench interpretability (round-17 verdict task 7): both
        // processAllAvailable phases (pre-kill + post-restart recovery)
        // count as stream_sec; staging writes, checkpoint dirs and the
        // controlled kill are scaffold
        val nIn = s.read.parquet(src).count()
        val streamSec = streamNanos / 1e9
        BenchAux.put("s20_stream_mf_restart",
          "stream_sec" -> streamSec,
          "scaffold_sec" -> ((System.nanoTime() - t0) / 1e9 - streamSec),
          "input_records" -> nIn.toDouble,
          "records_per_sec" -> (if (streamSec > 0) nIn / streamSec else 0.0))
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        out.filter(col("flagged"))
          .select("time_idx", "freq_hz", "pol", "event")
          .orderBy("pol", "time_idx", "freq_hz")
      }
    },
    Some(mwa04Oracle))

  /** The full composition certificate: the STATEFUL match filter fed by
    * the MESSAGE-BUS connector, killed mid-observation, restarted from
    * both checkpoints at once — the bus's per-partition offsets AND the
    * RocksDB operator state must agree after recovery. INS cells are
    * produced into a 2-partition segment log as CSV payloads (doubles
    * round-trip exactly through Java's shortest representation); the
    * stream is format("graft-bus") → parse → transformWithState. Half
    * the observation lands, the query dies with zero rows emitted
    * (require-pinned), the rest is appended to the SAME partitions, and
    * the restarted query resumes MID-LOG while recovering the
    * accumulated ListState. mwa04's recursive-CTE oracle certifies the
    * flag set bit-for-bit — source offsets, operator state and fixpoint
    * all survived the kill. Source-agnosticism is the point: s06 (file),
    * s07 (memory+timers), s20 (file+restart) and this (bus+restart) run
    * the SAME processor against the SAME oracle. */
  private[queries] val s21 = QueryDef("s21_bus_mf_restart",
    (s, d) => {
      import graft.mwa._
      val (ins, cfg, expected) = mfInsCells(s, "s21")
      val insDf = ins.localCheckpoint(true)
      val base = java.nio.file.Files.createTempDirectory("graft_s21_")
      val (root, ck, sink) = (s"$base/log", s"$base/ck", s"$base/sink")
      val payload = concat_ws(",", col("obsid"), col("time_idx"),
        col("freq_hz"), col("pol"), col("metric"), col("nsamples"))
      def produce(wave: org.apache.spark.sql.DataFrame): Unit =
        graft.sources.Bus.produce(wave, root, "ins", 2,
          xxhash64(col("pol")), payload,
          struct(col("pol"), col("time_idx"), col("freq_hz")))
      withConfs(s, rocksDbStore) {
        import s.implicits._
        def run(): Unit = {
          val cells = s.readStream.format("graft-bus")
            .option("path", root).load()
            .select(split(col("value").cast("string"), ",").as("f"))
            .select(element_at(col("f"), 1).cast("long").as("obsid"),
              element_at(col("f"), 2).cast("int").as("time_idx"),
              element_at(col("f"), 3).cast("double").as("freq_hz"),
              element_at(col("f"), 4).as("pol"),
              element_at(col("f"), 5).cast("double").as("metric"),
              element_at(col("f"), 6).cast("double").as("nsamples"))
            .as[MatchFilter.InsCell]
          val q = graft.streaming.StatefulOps
            .matchFilterStream(cells, cfg, expected).toDF()
            .writeStream.format("parquet")
            .option("path", sink).option("checkpointLocation", ck)
            .outputMode("append").start()
          try { q.processAllAvailable()
            graft.streaming.EventStreams.assertDrained(q, "s21_restart")
          } finally q.stop()
        }
        produce(insDf.filter(col("time_idx") <= 8))
        run()
        require(s.read.parquet(sink).isEmpty,
          "s21: observation completed before the kill — restart not exercised")
        produce(insDf.filter(col("time_idx") > 8))
        run()
        val out = s.read.parquet(sink).localCheckpoint(true)
        org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
        out.filter(col("flagged"))
          .select("time_idx", "freq_hz", "pol", "event")
          .orderBy("pol", "time_idx", "freq_hz")
      }
    },
    Some(mwa04Oracle))

  /** STREAMING deterministic hash-gate sampling: the t10 sample (md5 keyed,
    * 100 permille) applied to a documents STREAM. The gate is a stateless
    * per-row filter, so it composes with any streaming pipeline at zero
    * state cost — the property that makes deterministic sampling the right
    * down-sampling primitive for continuous ingestion. Shares t10's oracle:
    * stream and batch must select the identical rows. */
  private[queries] val s09 = QueryDef("s09_stream_sample",
    (s, d) => {
      import graft.streaming.EventStreams.runToBatch
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      // layout-adaptive: bare-file AND directory table layouts both work
      val docs = graft.streaming.EventStreams.streamTable(
        s, d, "documents.parquet", schema)
      runToBatch(s,
        graft.operators.Sampling.hashSample(docs, col("doc_id"), 100),
        outputMode = "append")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang FROM documents
            WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                  % 1000 < 100
            ORDER BY doc_id"""))

  /** STREAMING Misra-Gries heavy hitters (StatefulOps.MgTopKProcessor):
    * the corpus token stream replayed as 4 micro-batches, one bounded MG
    * sketch per hash bucket in RocksDB state running the BATCH aggregate's
    * exact counter arithmetic (shared MisraGriesAgg core), emitted at
    * per-bucket completeness. Buckets are hash-disjoint so their
    * summaries union to the global answer; with capacity >= per-bucket
    * vocabulary the sketch is exact — s10 shares t13's oracle, so stream
    * micro-batching must not change a single count. */
  private[queries] val s10 = QueryDef("s10_stream_topk",
    (s, d) => {
      import graft.functions.TextFns
      val nBuckets = 4
      val words = Tables.documents(s, d)
        .select(explode(TextFns.words(col("text"))).as("item"))
        .select(pmod(xxhash64(col("item")), lit(nBuckets.toLong)).as("bucket"),
          col("item"))
      // close-out signal: per-bucket expected occurrence counts (the s06
      // known-shape pattern; metadata-scale driver state, not data-scale)
      val expected = words.groupBy("bucket").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // exact-regime guard (t13's documented <=k-vocabulary assumption,
      // asserted): Misra-Gries at k=256 counts exactly only while each
      // bucket's vocabulary fits the sketch — a fixture change that
      // outgrows it must fail HERE, not surface as an oracle hash
      // mismatch from a silently-approximate sketch
      val maxVocab = words.groupBy("bucket")
        .agg(countDistinct(col("item")).as("__v"))
        .agg(max(col("__v"))).head().getLong(0)
      require(maxVocab <= 256,
        s"s10 exact-MG regime violated: $maxVocab distinct words in one " +
          "bucket > k=256; raise k or re-bucket the fixture")
      val dir = java.nio.file.Files.createTempDirectory("graft_s10_").toString
      words.repartition(4).write.mode("overwrite").parquet(dir)
      withConfs(s, rocksDbStore) {
        import s.implicits._
        val stream = s.readStream.schema("bucket BIGINT, item STRING")
          .option("maxFilesPerTrigger", 1).parquet(dir)
          .as[graft.streaming.StatefulOps.BucketItem]
        val sketches = graft.streaming.StatefulOps
          .mgTopKStream(stream, k = 256, expected).toDF()
        val out = graft.streaming.EventStreams
          .runToBatch(s, sketches, outputMode = "append")
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val w = org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("item"))
        out.withColumn("pos", row_number().over(w) - 1)
          .filter(col("pos") < 20)
          .select(col("pos").cast("int").as("pos"), col("item").as("word"),
            col("cnt"))
          .orderBy("pos")
      }
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

  /** STREAMING incremental CDC upsert through foreachBatch: the event
    * stream (4 unordered micro-batches) folds into a keyed current-state
    * table via RelationalOps.mergeLatest — the order-independent merge,
    * so the fold converges to per-user-latest no matter how files batch.
    * The state table lives as parquet swapped per batch (the no-lakehouse
    * upsert sink); the oracle derives the final state in one window. */
  private[queries] val s11 = QueryDef("s11_stream_upsert",
    (s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_s11_")
      val (src, state) = (s"$base/src", s"$base/state")
      val ev = Tables.events(s, d).select("user_id", "ts", "value", "event_id")
      ev.repartition(4).write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val ord = Seq(col("ts").desc, col("event_id").desc)
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cur =
            if (new java.io.File(state).exists)
              batch.sparkSession.read.parquet(state)
            else batch.sparkSession.emptyDataFrame
              .select(batch.columns.map(c => lit(null).cast(
                batch.schema(c).dataType).as(c)).toIndexedSeq: _*).limit(0)
          val merged = graft.operators.RelationalOps
            .mergeLatest(cur, batch, "user_id", ord)
          // swap, don't overwrite-in-place: the read above is lazy and
          // would race its own output
          val tmp = s"$state.next"
          merged.write.mode("overwrite").parquet(tmp)
          val st = new java.io.File(state)
          if (st.exists) org.apache.commons.io.FileUtils.deleteDirectory(st)
          // Files.move, not File.renameTo: renameTo reports failure only
          // via its boolean, and a swallowed failed swap would silently
          // drop this batch's state update — the batch must fail loudly
          java.nio.file.Files.move(
            java.nio.file.Paths.get(tmp), st.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          ()
        }
        .start()
      try { q.processAllAvailable()
        graft.streaming.EventStreams.assertDrained(q, "s11_upsert")
      } finally q.stop()
      val fin = s.read.parquet(state).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      fin.orderBy("user_id")
    },
    Some("""SELECT user_id, ts, value, event_id FROM (
              SELECT user_id, ts, value, event_id,
                ROW_NUMBER() OVER (PARTITION BY user_id
                  ORDER BY ts DESC, event_id DESC) AS rn
              FROM events) t
            WHERE rn = 1 ORDER BY user_id"""))

  /** REAL stream-stream LEFT OUTER interval join (append mode). The
    * streaming semantics differ from a batch left join in exactly one
    * documented way: a NULL-extended row is emitted only once the final
    * watermark proves no matching signup can arrive. The oracle replays
    * that horizon — min of the two sides' max event time (watermark
    * stats are millisecond-truncated) minus the 1-hour delay — so the
    * boundary behavior itself is certified, not just the matched rows. */
  private[queries] val s12 = QueryDef("s12_stream_leftjoin",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, purchaseSignupLeftJoin(eventsStream(s, d)), outputMode = "append")
        .orderBy("purchase_id", "signup_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'purchase'),
                 s AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'signup'),
                 wm AS (SELECT LEAST((SELECT epoch_us(MAX(ts)) // 1000 FROM p),
                                     (SELECT epoch_us(MAX(ts)) // 1000 FROM s))
                          - 3600000 AS w),
                 m AS (SELECT p.event_id AS purchase_id, s.event_id AS signup_id
                         FROM p JOIN s ON p.user_id = s.user_id
                          AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY)
            SELECT purchase_id, signup_id FROM m
            UNION ALL
            SELECT p.event_id, CAST(NULL AS BIGINT) FROM p, wm
             WHERE epoch_us(p.ts) // 1000 < wm.w
               AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.event_id)
            ORDER BY purchase_id, signup_id NULLS FIRST"""))

  /** REAL stream-static join (append mode): the streaming events enriched
    * against the BATCH customer table — the standard dimension-enrichment
    * pattern. Stream-static joins are stateless (the static side is
    * simply available to every micro-batch), so unlike s03/s12 there is
    * no watermark subtlety and the batch join is the exact oracle. The
    * static side scales with SF, so no broadcast hint — AQE decides, as
    * in q04. */
  private[queries] val s13 = QueryDef("s13_stream_static",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s,
        eventsStream(s, d)
          .join(Tables.customer(s, d).select("c_custkey", "c_mktsegment"),
            col("user_id") === col("c_custkey"))
          .select("event_id", "user_id", "c_mktsegment"),
        outputMode = "append")
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, c_mktsegment FROM events
            JOIN customer ON user_id = c_custkey ORDER BY event_id"""))

  /** REAL append-mode session windows (s02's complete-mode twin, run the
    * way production would): only sessions the watermark has CLOSED are
    * emitted. The oracle replays q26's gaps-and-islands sessionization
    * plus the final watermark horizon (max event time, ms-truncated,
    * minus the 1-hour delay) — a session row appears iff its end
    * (last event + 30 min) is strictly below the horizon, certifying
    * the emission rule itself, not just the session arithmetic. */
  private[queries] val s14 = QueryDef("s14_stream_sessions_append",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, userSessionsAppend(eventsStream(s, d)), outputMode = "append")
        .orderBy("user_id", "s_start")
    },
    Some("""WITH wm AS (SELECT epoch_us(MAX(ts)) // 1000 - 3600000 AS w
                        FROM events),
            g AS (SELECT user_id, ts, event_id,
                DATE_DIFF('second', LAG(ts) OVER (
                  PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap
              FROM events),
            se AS (SELECT user_id, ts,
                SUM(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS sess
              FROM g),
            s AS (SELECT user_id, sess,
                CAST(MIN(ts) AS TIMESTAMP) AS s_start,
                CAST(MAX(ts) AS TIMESTAMP) + INTERVAL 30 MINUTE AS s_end,
                COUNT(*) AS n_events
              FROM se GROUP BY user_id, sess)
            SELECT s_start, s_end, user_id, n_events FROM s, wm
            WHERE epoch_us(s_end) // 1000 < wm.w
            ORDER BY user_id, s_start"""))

  /** REAL stream-stream FULL OUTER interval join — the last join mode
    * without a streaming twin. The emission semantics are ASYMMETRIC and
    * both sides are oracled: an unmatched purchase null-extends once the
    * watermark passes its own event time (as in s12), but an unmatched
    * signup can be matched by purchases up to 7 days LATER, so its
    * null-extended row is emitted only once the watermark passes
    * signup_ts + 7 days — the oracle replays both horizons from the same
    * min-of-max-event-times watermark, certifying each side's proof
    * obligation, not just the matched rows. */
  private[queries] val s15 = QueryDef("s15_stream_fulljoin",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, purchaseSignupFullJoin(eventsStream(s, d)),
        outputMode = "append")
        .orderBy("purchase_id", "signup_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'purchase'),
                 s AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'signup'),
                 wm AS (SELECT LEAST((SELECT epoch_us(MAX(ts)) // 1000 FROM p),
                                     (SELECT epoch_us(MAX(ts)) // 1000 FROM s))
                          - 3600000 AS w),
                 m AS (SELECT p.event_id AS purchase_id, s.event_id AS signup_id
                         FROM p JOIN s ON p.user_id = s.user_id
                          AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY)
            SELECT purchase_id, signup_id FROM m
            UNION ALL
            SELECT p.event_id, CAST(NULL AS BIGINT) FROM p, wm
             WHERE epoch_us(p.ts) // 1000 < wm.w
               AND NOT EXISTS (SELECT 1 FROM m WHERE m.purchase_id = p.event_id)
            UNION ALL
            SELECT CAST(NULL AS BIGINT), s.event_id FROM s, wm
             WHERE epoch_us(s.ts) // 1000 + 604800000 < wm.w
               AND NOT EXISTS (SELECT 1 FROM m WHERE m.signup_id = s.event_id)
            ORDER BY purchase_id NULLS FIRST, signup_id NULLS FIRST"""))

  /** REAL stream-stream RIGHT OUTER interval join — with s12 (left) and
    * s15 (full) this closes all four join modes. Only the LONG horizon
    * appears here: an unmatched signup null-extends once the watermark
    * passes signup_ts + 7 days (purchases up to a week later could still
    * match); matched rows are the inner join. Same
    * min-of-max-event-times watermark replay as s12/s15. */
  private[queries] val s17 = QueryDef("s17_stream_rightjoin",
    (s, d) => {
      import graft.streaming.EventStreams._
      runToBatch(s, purchaseSignupRightJoin(eventsStream(s, d)),
        outputMode = "append")
        .orderBy("purchase_id", "signup_id")
    },
    Some("""WITH p AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'purchase'),
                 s AS (SELECT event_id, user_id, ts FROM events
                        WHERE event_type = 'signup'),
                 wm AS (SELECT LEAST((SELECT epoch_us(MAX(ts)) // 1000 FROM p),
                                     (SELECT epoch_us(MAX(ts)) // 1000 FROM s))
                          - 3600000 AS w),
                 m AS (SELECT p.event_id AS purchase_id, s.event_id AS signup_id
                         FROM p JOIN s ON p.user_id = s.user_id
                          AND s.ts <= p.ts AND s.ts >= p.ts - INTERVAL 7 DAY)
            SELECT purchase_id, signup_id FROM m
            UNION ALL
            SELECT CAST(NULL AS BIGINT), s.event_id FROM s, wm
             WHERE epoch_us(s.ts) // 1000 + 604800000 < wm.w
               AND NOT EXISTS (SELECT 1 FROM m WHERE m.signup_id = s.event_id)
            ORDER BY purchase_id NULLS FIRST, signup_id NULLS FIRST"""))

  /** STREAMING incremental dedup — d21's batch-vs-corpus classification
    * run as the production "daily crawl" loop: the corpus artifacts
    * (digest index, LSH band index, texts) are written ONCE as tables,
    * then each micro-batch of new documents classifies against them via
    * foreachBatch (the s11 sink pattern) with cost proportional to the
    * batch. Classification is per-document against the fixed corpus, so
    * micro-batch boundaries cannot change any row — the final appended
    * state shares d21's oracle verbatim. */
  private[queries] val s16 = QueryDef("s16_stream_incr_dedup",
    (s, d) => {
      val (corpus, batch) = d21Fixture(s, d)
      val base = java.nio.file.Files.createTempDirectory("graft_s16_")
      val (src, idx, out) = (s"$base/src", s"$base/idx", s"$base/out")
      graft.operators.Dedup.corpusDigestIndex(corpus)
        .write.mode("overwrite").parquet(s"$idx/dig")
      graft.operators.Dedup.corpusBandIndex(corpus)
        .write.mode("overwrite").parquet(s"$idx/band")
      corpus.write.mode("overwrite").parquet(s"$idx/texts")
      batch.repartition(4).write.mode("overwrite").parquet(src)
      val stream = s.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1).parquet(src)
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ck")
        .foreachBatch { (b: DataFrame, _: Long) =>
          val ss = b.sparkSession
          graft.operators.Dedup.incrementalDedupIndexed(
              ss.read.parquet(s"$idx/dig"), ss.read.parquet(s"$idx/band"),
              ss.read.parquet(s"$idx/texts"), b)
            .write.mode("append").parquet(out)
          ()
        }
        .start()
      try { q.processAllAvailable()
        graft.streaming.EventStreams.assertDrained(q, "s16_incr_dedup")
      } finally q.stop()
      val fin = s.read.parquet(out).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      fin.orderBy("doc_id")
    },
    Some(d21Oracle))

  /** s18: the streaming curation funnel — documents ingested as a file
    * stream, STATELESS quality predicates applied per micro-batch (the
    * cheap in-stream stage: no shuffle, no state store), survivors staged
    * to parquet, then the corpus-GLOBAL per-language quality gate
    * (t35's operator) over the accumulated set. Global selection can
    * never be a per-batch decision — the split into a stateless stream
    * stage and a batch gate is the production shape, and the oracle
    * certifies the composed end-to-end result. */
  private[queries] val s18 = QueryDef("s18_stream_funnel",
    (s, d) => {
      val base = java.nio.file.Files.createTempDirectory("graft_s18_")
      val out = s"$base/staged"
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      // layout-adaptive (see EventStreams.streamTable — the glob-filter
      // form streamed ZERO batches from a directory table at sf1);
      // maxFilesPerTrigger keeps multiple micro-batches in play when the
      // table has multiple part files
      val stream = {
        val src = s.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        if (new java.io.File(d.stripPrefix("file:"),
            "documents.parquet").isDirectory)
          src.parquet(s"$d/documents.parquet")
        else src.option("pathGlobFilter", "documents.parquet").parquet(d)
      }
      val q = stream.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ck")
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.filter(col("n_chars") >= 200)
            .select("doc_id", "lang", "n_chars")
            .write.mode("append").parquet(out)
          ()
        }
        .start()
      try { q.processAllAvailable()
        graft.streaming.EventStreams.assertDrained(q, "s18_funnel")
      } finally q.stop()
      // pin the staged survivors to executor storage, then remove the
      // staging + checkpoint dirs NOW: repeated verify/bench runs must
      // leave /tmp flat (round-9 leaked one dir per build)
      val staged = s.read.parquet(out).localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      Sampling.qualityGate(staged,
          "lang", col("n_chars"), col("doc_id"), 300)
        .orderBy("doc_id")
    },
    Some("""WITH surv AS (SELECT doc_id, lang, n_chars FROM documents
                          WHERE n_chars >= 200),
            r AS (SELECT doc_id, lang, n_chars,
                ROW_NUMBER() OVER (PARTITION BY lang
                  ORDER BY n_chars DESC,
                    ('0x' || substring(md5(CAST(doc_id AS VARCHAR)),
                       1, 15))::BIGINT, doc_id) AS rn,
                COUNT(*) OVER (PARTITION BY lang) AS n
              FROM surv)
            SELECT doc_id, lang, n_chars FROM r
            WHERE rn <= n * 300 // 1000 ORDER BY doc_id"""))

  /** s19: the message-bus connector seam (graft.sources.Bus — SURVEY
    * S9's `kafka` row, wire-protocol-independent half) run end-to-end
    * under the oracle: events produced into a 4-partition segment log,
    * streamed through the DSv2 micro-batch source into a checkpointed
    * parquet sink, the query KILLED between halves, restarted mid-log
    * from the committed (topic, partition, offset) positions. The oracle
    * is FULL record fidelity — not distinct-collapse: a double delivery
    * or a gap after restart is a row-count/hash mismatch, so the
    * exactly-once property itself is what's certified. BusSourceSpec
    * additionally pins dense per-partition offsets and late-partition
    * discovery. */
  private[queries] val s19 = QueryDef("s19_bus_connector",
    (s, d) => {
      val t0 = System.nanoTime()
      var streamNanos = 0L  // time INSIDE processAllAvailable
      var produceNanos = 0L // time writing segments into the log
      // decomposition of the drain (round-19 verdict task 4): summed
      // StreamingQueryProgress.durationMs across both halves —
      //   plan   = latestOffset + getBatch + queryPlanning (source
      //            discovery + per-batch plan)
      //   drain  = addBatch (read segments -> write sink files)
      //   commit = walCommit + commitOffsets (checkpoint WAL + sink log)
      val dur = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
      var nBatches = 0L
      val base = java.nio.file.Files.createTempDirectory("graft_s19_")
      val (root, ck, sink) = (s"$base/log", s"$base/ck", s"$base/sink")
      val ev = Tables.events(s, d).select("event_id", "user_id", "event_type")
      val payload = concat(col("event_id"), lit(","),
        col("user_id"), lit(","), col("event_type"))
      // Scale-adaptive BUS partition count (r22, the r20/r21 verdicts' s19
      // producer-parallelism task; same derivation rule as s22's state
      // partitions, guide §2): Bus.produce is single-writer-per-partition,
      // so the log's partition count caps BOTH the producer's sort+write
      // parallelism and the per-batch fan-in — a constant 4 left the sf10
      // produce at 4 tasks over 10M records (~5.9s of the 7.9s wall, r20
      // decomposition). Partitions derive from the input's plan-time size
      // (~8MB per partition, FLOOR 4 — every oracle-scale run keeps the
      // exact 4-partition log layout it always had), capped by the
      // session's shuffle-partitions conf so the cluster conf governs at
      // scale. Sink rows are partition-count-invariant (same payload set;
      // the query orders by event_id), which the oracle certifies.
      val busParts = sizedPartitions(s, ev)
      def run(): Unit = {
        val q = s.readStream.format("graft-bus").option("path", root).load()
          .select(col("value").cast("string").as("v"))
          .writeStream.format("parquet")
          .option("path", sink).option("checkpointLocation", ck)
          .outputMode("append").start()
        val s0 = System.nanoTime()
        try { q.processAllAvailable()
          graft.streaming.EventStreams.assertDrained(q, "s19_bus")
        } finally {
          streamNanos += System.nanoTime() - s0
          q.recentProgress.foreach { p =>
            if (p.numInputRows > 0 || !p.durationMs.isEmpty) nBatches += 1
            p.durationMs.forEach((k, v) => dur(k) += v)
          }
          q.stop()
        }
      }
      def produce(half: org.apache.spark.sql.DataFrame): Unit = {
        val p0 = System.nanoTime()
        graft.sources.Bus.produce(half, root, "events", busParts,
          col("event_id"), payload, col("event_id"))
        produceNanos += System.nanoTime() - p0
      }
      produce(ev.filter(col("event_id") % 2 === 0))
      run() // half the log, then a controlled kill
      produce(ev.filter(col("event_id") % 2 === 1))
      run() // restart: resume mid-log from checkpointed offsets
      val out = s.read.parquet(sink).localCheckpoint(true)
      val nIn = out.count() // full record fidelity: sink rows == produced records
      val streamSec = streamNanos / 1e9
      BenchAux.put("s19_bus_connector",
        "bus_partitions" -> busParts.toDouble,
        "stream_sec" -> streamSec,
        "scaffold_sec" -> ((System.nanoTime() - t0) / 1e9 - streamSec),
        "produce_sec" -> produceNanos / 1e9,
        "plan_sec" -> ((dur("latestOffset") + dur("getBatch") +
          dur("queryPlanning")) / 1e3),
        "drain_sec" -> dur("addBatch") / 1e3,
        "commit_sec" -> ((dur("walCommit") + dur("commitOffsets")) / 1e3),
        "batches" -> nBatches.toDouble,
        "input_records" -> nIn.toDouble,
        "records_per_sec" -> (if (streamSec > 0) nIn / streamSec else 0.0))
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      out.select(split(col("v"), ",").as("f"))
        .select(element_at(col("f"), 1).cast("long").as("event_id"),
          element_at(col("f"), 2).cast("long").as("user_id"),
          element_at(col("f"), 3).as("event_type"))
        .orderBy("event_id")
    },
    Some("""SELECT event_id, user_id, event_type FROM events
            ORDER BY event_id"""), bench = true)

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
  private[queries] val s22 = QueryDef("s22_stream_asof",
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
      val stateParts = sizedPartitions(s, tagged)
      def run(): Unit = withConfs(s, rocksDbStore,
          "spark.sql.shuffle.partitions" -> stateParts.toString) {
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
}
