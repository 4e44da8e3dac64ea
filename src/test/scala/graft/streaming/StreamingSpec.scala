package graft.streaming

import graft.SparkSpec
import graft.mwa.{FitsProcessor, GraftConfig, VisGenerator, VisOps, VisStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.nio.file.Files
import java.sql.Timestamp

object StreamingSpec {
  final case class E(user_id: Long, event_id: Long)
  final case class Out(user_id: Long, total: Long)
}

/** Structured Streaming behaviors: tumbling/session parity (also oracle-
  * checked via s01/s02), watermarked dedup, and arbitrary stateful
  * processing with flatMapGroupsWithState. */
class StreamingSpec extends SparkSpec {
  import StreamingSpec._
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("streaming hourly tumbling equals the batch aggregation") {
    val streamed = EventStreams.runToBatch(spark,
      EventStreams.hourlyCounts(EventStreams.eventsStream(spark, dir)))
    val batch = graft.Tables.events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).cast("timestamp_ntz").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
    assert(streamed.count() == batch.count())
    val s = streamed.select(col("w").cast("timestamp_ntz"), col("event_type"), col("n"))
      .collect().map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet
    val b = batch.collect().map(r => (r.get(0), r.getString(1), r.getLong(2))).toSet
    assert(s == b)
  }

  test("a zero-input stream FAILS loudly instead of returning empty (28ba634 class)") {
    // the exact round-13 bug shape: a glob that matches no part file.
    // Before the assertDrained guard this drained zero batches and
    // returned an empty (but well-formed) result table; now the harness
    // refuses to treat it as a result.
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val emptyGlob = spark.readStream.schema(schema)
      .option("pathGlobFilter", "no_such_table.parquet").parquet(dir)
    val e = intercept[IllegalArgumentException] {
      EventStreams.runToBatch(spark,
        emptyGlob.groupBy(col("event_type")).count())
    }
    assert(e.getMessage.contains("ZERO input rows"))
  }

  test("dropDuplicatesWithinWatermark dedups (user_id, event_type)") {
    val out = EventStreams.runToBatch(spark,
      EventStreams.dedupedStream(EventStreams.eventsStream(spark, dir)),
      outputMode = "append")
    val distinctPairs = graft.Tables.events(spark, dir)
      .select("user_id", "event_type").distinct().count()
    assert(out.count() == distinctPairs)
  }

  test("flatMapGroupsWithState: per-user running event counter") {
    // stateful streaming: count events per user, emitting cumulative counts
    val events = EventStreams.eventsStream(spark, dir)
      .select(col("user_id"), col("event_id")).as[E]
    val counted = events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[E], state: GroupState[Long]) => {
          val prev = state.getOption.getOrElse(0L)
          val total = prev + it.size
          state.update(total)
          Iterator(Out(uid, total))
        })
    val out = EventStreams.runToBatch(spark, counted.toDF(), outputMode = "update")
    val expected = graft.Tables.events(spark, dir)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // last update per user equals the batch count
    val got = out.groupBy("user_id").agg(max("total").as("total")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("transformWithState keeps typed RocksDB state across micro-batches") {
    // Spark 4 StatefulProcessor API (successor to flatMapGroupsWithState);
    // requires the RocksDB state store provider
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[(Long, Long)]
      val q = StatefulOps.runningCounts(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("tws_out")
        .outputMode("update").start()
      try {
        mem.addData((1L, 10L), (1L, 11L), (2L, 20L))
        q.processAllAvailable()
        mem.addData((1L, 12L)) // state for user 1 must survive into batch 2
        q.processAllAvailable()
      } finally q.stop()
      val rows = spark.table("tws_out").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((1L, 2L), (2L, 1L), (1L, 3L)))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming as-of join: cross-batch LOCF, inclusive bound, tie-break") {
    // time-ordered two-batch feed: the enrichment for a batch-2 probe must
    // come from batch-1 state (LOCF across the restartable state cell);
    // equal-ts ref is INCLUSIVE; equal-ts refs tie-break on max event_id
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StatefulOps.{AsOfSideRow => R}
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      def t(s: Long) = new Timestamp(1700000000000L + s * 1000)
      val mem = MemoryStream[R]
      val q = StatefulOps.streamAsOfJoin(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("asof_out")
        .outputMode("append").start()
      try {
        mem.addData(
          R(1, is_ref = true, t(10), 100, 1000), // view @10
          R(1, is_ref = true, t(20), 101, 2000), // view @20 ...
          R(1, is_ref = true, t(20), 102, 3000), // ... equal-ts: 102 wins
          R(1, is_ref = false, t(20), 500, 0),   // probe @20 -> 102 (inclusive)
          R(2, is_ref = false, t(15), 600, 0))   // probe, user with no view
        q.processAllAvailable()
        mem.addData(
          R(1, is_ref = false, t(30), 501, 0),   // batch 2 -> batch-1 state
          R(1, is_ref = true, t(40), 103, 4000),
          R(1, is_ref = false, t(41), 502, 0))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("asof_out").collect()
        .map(r => (r.getLong(0), Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]))).toSet
      assert(got == Set(
        (500L, Some(102L), Some(3000L)),
        (600L, None, None),
        (501L, Some(102L), Some(3000L)),
        (502L, Some(103L), Some(4000L))))
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming MG sketch equals exact counts under adversarial batching") {
    // one bucket gets its items spread across 3 lopsided batches (1 item /
    // many / rest); in the exact regime (k >= per-bucket vocabulary) the
    // emitted summary must equal the true counts regardless of batching
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val items = Seq.tabulate(500)(i => StatefulOps.BucketItem(i % 2, s"w${i % 7}"))
      val expected = items.groupBy(_.bucket).map { case (b, xs) => b -> xs.size.toLong }
      val mem = MemoryStream[StatefulOps.BucketItem]
      val q = StatefulOps.mgTopKStream(mem.toDS(), k = 64, expected).toDF()
        .writeStream.format("memory").queryName("mg_out")
        .outputMode("append").start()
      try {
        mem.addData(items.take(1))
        q.processAllAvailable()
        mem.addData(items.slice(1, 400))
        q.processAllAvailable()
        mem.addData(items.drop(400))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("mg_out").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val truth = items.groupBy(i => (i.bucket, i.item))
        .map { case (k, xs) => k -> xs.size.toLong }
      assert(got === truth)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("streaming match filter equals batch MatchFilter under any batching") {
    import graft.mwa._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
    val cfg = GraftConfig(removeFlaggedAnts = false,
      spectrumType = SpectrumType.Auto, tbAggro = 1.0 / 32)
    val insDf = VisOps.ins(VisOps.diff(
        VisOps.selectSurface(VisGenerator.portable(spark, spec), cfg)))
      .select(col("obsid"), col("time_idx"), col("freq_hz"), col("pol"),
        col("metric").cast("double"), col("nsamples").cast("double"))
    val expectedFlags = MatchFilter(insDf, cfg)
      .select("time_idx", "freq_hz", "pol", "flagged", "event").collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getString(2)) ->
        (r.getBoolean(3), r.getString(4))).toMap
    import spark.implicits._
    val cells = insDf.as[MatchFilter.InsCell].collect()
    val expected = (spec.nTimes - 1) * spec.nCoarse * spec.nFine
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[MatchFilter.InsCell]
      val q = StatefulOps.matchFilterStream(mem.toDS(), cfg, expected).toDF()
        .writeStream.format("memory").queryName("mf_out")
        .outputMode("append").start()
      try {
        // deliberately lopsided batching: 100 cells, then 1, then the rest.
        // Completeness is tracked by a ValueState counter (O(batch) work
        // per batch — the ListState is only materialized at the completing
        // batch), so emission must happen exactly at batch 3:
        mem.addData(cells.take(100).toSeq)
        q.processAllAvailable()
        assert(spark.table("mf_out").isEmpty)
        mem.addData(cells.slice(100, 101).toSeq)
        q.processAllAvailable()
        assert(spark.table("mf_out").isEmpty)
        mem.addData(cells.drop(101).toSeq)
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("mf_out")
        .select("time_idx", "freq_hz", "pol", "flagged", "event").collect()
        .map(r => (r.getInt(0), r.getDouble(1), r.getString(2)) ->
          (r.getBoolean(3), r.getString(4))).toMap
      assert(got == expectedFlags)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("checkpointed dedup stream survives a restart exactly-once") {
    // production property: kill a stateful streaming query mid-input,
    // restart from its checkpoint, and the output is still exactly the
    // batch answer — state (dedup keys seen) recovers, no duplicates,
    // no gaps. This is the recovery contract a 100 TB ingest relies on.
    val src = tmpDir("graft_ck_src_")
    val ck = tmpDir("graft_ck_state_")
    val sink = tmpDir("graft_ck_sink_")
    val events = graft.Tables.events(spark, dir)
    // two halves with OVERLAPPING keys: half B alone would re-emit keys
    // already seen in half A if state did not survive the restart
    events.filter(col("event_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$src/batchA")
    def start() = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$src/*")
      // plain dropDuplicates (no watermark): state never expires, which is
      // the strict exactly-once-per-key contract this test pins — the
      // WithinWatermark variant (s05) MAY re-emit keys whose occurrences
      // are further apart than the watermark window, by design
      .dropDuplicates("user_id", "event_type")
      .select("user_id", "event_type")
      .writeStream.format("parquet")
      .option("path", sink).option("checkpointLocation", ck)
      .outputMode("append").start()
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    events.filter(col("event_id") % 2 === 1)
      .write.mode("overwrite").parquet(s"$src/batchB")
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(sink).localCheckpoint(true)
    val expected = events.select("user_id", "event_type").distinct().count()
    assert(got.count() == expected, "duplicates or gaps after restart")
    assert(got.distinct().count() == expected)
    Seq(src, ck, sink).foreach(p =>
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p)))
  }

  test("watermark-timer match filter emits once the observation goes silent") {
    import graft.mwa._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val spec = VisGenerator.Spec(nTimes = 17, nAnts = 4)
    val cfg = GraftConfig(removeFlaggedAnts = false,
      spectrumType = SpectrumType.Auto, tbAggro = 1.0 / 32)
    val insDf = VisOps.ins(VisOps.diff(
        VisOps.selectSurface(VisGenerator.portable(spark, spec), cfg)))
      .select(col("obsid"), col("time_idx"), col("freq_hz"), col("pol"),
        col("metric").cast("double"), col("nsamples").cast("double"))
    val expectedFlagged = MatchFilter(insDf, cfg).filter(col("flagged")).count()
    import spark.implicits._
    val base = 1700000000000L
    val cells = insDf.collect().map { r =>
      StatefulOps.InsCellTs(r.getLong(0), r.getInt(1), r.getDouble(2),
        r.getString(3), r.getDouble(4), r.getDouble(5),
        new java.sql.Timestamp(base + r.getInt(1) * 1000L))
    }
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
      val mem = MemoryStream[StatefulOps.InsCellTs]
      // the watermark delay must cover the adversarial arrival disorder
      // below (event-time mode drops rows older than the watermark —
      // with "1 second" instead, batch 2's early times would be silently
      // discarded and the fixpoint would run on a truncated spectrum);
      // the close-out window must exceed in-observation event-time gaps
      val withWm = mem.toDS().withWatermark("ts", "1 hour")
      val q = StatefulOps.matchFilterStreamEventTime(withWm, cfg, closeOutMs = 30000L)
        .toDF().writeStream.format("memory").queryName("mf_timer_out")
        .outputMode("append").start()
      try {
        mem.addData(cells.take(150).toSeq)
        q.processAllAvailable()
        mem.addData(cells.drop(150).toSeq)
        q.processAllAvailable()
        // observation goes silent: a sentinel far in the future advances
        // the watermark past every real deadline; two rounds because the
        // watermark computed at batch N gates the timers of batch N+1
        val sentinel = StatefulOps.InsCellTs(9999L, 0, 0.0, "XX", 0.0, 4.0,
          new java.sql.Timestamp(base + 10 * 3600 * 1000L))
        mem.addData(Seq(sentinel))
        q.processAllAvailable()
        mem.addData(Seq(sentinel.copy(time_idx = 1)))
        q.processAllAvailable()
      } finally q.stop()
      val out = spark.table("mf_timer_out").filter(col("obsid") =!= 9999L)
      assert(out.count() == insDf.count()) // every real cell got a verdict
      assert(out.filter(col("flagged")).count() == expectedFlagged)
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("stateful streaming sessionization equals the batch gaps-and-islands") {
    // arbitrary-state variant of q26: per-user session counting inside
    // flatMapGroupsWithState (sorting the group's events by time in-state)
    val events = EventStreams.eventsStream(spark, dir)
      .select(col("user_id"), col("ts").cast("long").as("sec"), col("event_id"))
      .as[(Long, Long, Long)]
    val counted = events.groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, it: Iterator[(Long, Long, Long)], state: GroupState[Long]) => {
          val sorted = it.toSeq.sortBy(e => (e._2, e._3))
          var sessions = state.getOption.getOrElse(0L)
          var last = Long.MinValue
          sorted.foreach { e =>
            if (last == Long.MinValue || e._2 - last > 1800L) sessions += 1
            last = e._2
          }
          state.update(sessions)
          Iterator((uid, sessions))
        })
    val out = EventStreams.runToBatch(spark, counted.toDF("user_id", "n_sessions"),
      outputMode = "update")
    val got = out.groupBy("user_id").agg(max("n_sessions").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = graft.operators.RelationalOps
      .sessionize(graft.Tables.events(spark, dir), "user_id", "ts", 1800L,
        Seq(col("ts"), col("event_id")))
      .groupBy("user_id").agg(max("session_id").as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("session_window merges INCLUSIVELY at the exact gap boundary (OpFuzz oracle pin)") {
    // Round-19 ADVICE: OpFuzz's refLateSessions oracle merges on a CLOSED
    // boundary (an event exactly `gap` after the previous one continues
    // the session). Randomized ms-granularity draws land on that exact
    // boundary ~never, so the oracle's inclusive merge was inherited from
    // s14 rather than certified. This deterministic draw pins it against
    // the engine, through the SAME streaming path the fuzz family runs
    // (parquet source -> watermark -> session_window -> append sink):
    //   user 1: two events exactly gap apart        -> MUST merge (1 session)
    //   user 2: two events gap-1ms apart            -> merge (1 session)
    //   user 3: two events gap+1ms apart            -> MUST NOT merge (2)
    val base = Files.createTempDirectory("graft_sess_boundary_").toString
    val (src, ck, sink) = (s"$base/src", s"$base/ck", s"$base/sink")
    val gapMs = 10000L
    val t0 = 1767225600000L // 2026-01-01T00:00:00Z
    def ev(id: Long, u: Long, ms: Long) = (id, u, new Timestamp(ms))
    val wave1 = Seq(ev(1, 1, t0), ev(2, 1, t0 + gapMs),
      ev(3, 2, t0), ev(4, 2, t0 + gapMs - 1),
      ev(5, 3, t0), ev(6, 3, t0 + gapMs + 1))
    // sentinel waves push the watermark past every real session end so
    // append mode emits; two rounds because the watermark computed at
    // batch N gates the emission of batch N+1
    val sent1 = Seq(ev(7, 99L, t0 + 3600 * 1000L))
    val sent2 = Seq(ev(8, 99L, t0 + 7200 * 1000L))
    val evSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, user_id BIGINT, ts TIMESTAMP")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(evSchema).parquet(src)
        .withWatermark("ts", "1 seconds")
        .groupBy(session_window(col("ts"), "10 seconds").as("sess"),
          col("user_id"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), col("sess.start").as("s_start"),
          col("sess.end").as("s_end"), col("n"))
        .writeStream.format("parquet").option("path", sink)
        .option("checkpointLocation", ck).outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    Seq(wave1, sent1, sent2).foreach { rows =>
      rows.toDF("event_id", "user_id", "ts")
        .coalesce(1).write.mode("append").parquet(src)
      runOnce()
    }
    val got = spark.read.schema(org.apache.spark.sql.types.StructType
        .fromDDL("user_id BIGINT, s_start TIMESTAMP, s_end TIMESTAMP, n BIGINT"))
      .parquet(sink).filter(col("user_id") =!= 99L).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    val expected = Set(
      (1L, t0, t0 + 2 * gapMs, 2L),               // closed boundary: merged
      (2L, t0, t0 + 2 * gapMs - 1, 2L),
      (3L, t0, t0 + gapMs, 1L),                   // gap+1ms: split
      (3L, t0 + gapMs + 1, t0 + 2 * gapMs + 1, 1L))
    assert(got == expected, s"engine sessions $got != oracle-shaped $expected")
    // the same draw through the fuzz oracle itself: every event in wave 0,
    // sentinels in waves 1-2, so the oracle must produce the identical set
    val oracleEvs = (wave1.map(e => (e._1, e._2, e._3.getTime, 0)) ++
      sent1.map(e => (e._1, e._2, e._3.getTime, 1)) ++
      sent2.map(e => (e._1, e._2, e._3.getTime, 2)))
    val want = graft.OpFuzz.refLateSessionsForTest(
      oracleEvs.map(e => (e._1, e._2, e._3)),
      oracleEvs.map(e => e._1 -> e._4).toMap, 3, 1000L, gapMs)
      .filter(_._1 != 99L).toSet
    assert(want == expected, s"oracle $want != $expected")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
  }

  test("streaming INS equals the batch INS (diffed vis stream)") {
    val tmp = tmpDir("graft_vis_stream")
    val cfg = GraftConfig(removeFlaggedAnts = false)
    val spec = VisGenerator.Spec(nTimes = 8, nAnts = 4, nCoarse = 1, nFine = 8)
    val diffed = VisOps.diff(VisOps.selectSurface(VisGenerator.vis(spark, spec), cfg))
    diffed.write.mode("overwrite").parquet(tmp)

    val streamed = EventStreams.runToBatch(spark,
      VisOps.ins(VisStreams.visStream(spark, tmp)))
    val batch = VisOps.ins(spark.read.parquet(tmp))
    assert(streamed.count() == batch.count())
    val key = Seq("time_idx", "freq_hz", "pol")
    val j = streamed.as("s").join(batch.as("b"), key)
    assert(j.count() == batch.count())
    // means match to fp tolerance (streaming partials may sum in a
    // different order than the batch hash aggregate)
    assert(j.filter(abs(col("s.metric") - col("b.metric")) > 1e-9 ||
      col("s.nsamples") =!= col("b.nsamples")).count() == 0)
  }

  test("the diff over a stream fails at analysis, with the window's error class") {
    val tmp = tmpDir("graft_vis_stream_diff")
    VisGenerator.vis(spark, VisGenerator.Spec(nTimes = 4, nAnts = 3, nCoarse = 1, nFine = 2))
      .write.mode("overwrite").parquet(tmp)
    def condition(diff: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame) =
      intercept[org.apache.spark.sql.AnalysisException] {
        diff(VisStreams.visStream(spark, tmp)).writeStream.format("noop").start().stop()
      }.getCondition
    // the form the diff took before its one-pass operator, which Structured
    // Streaming's checker refuses; the operator must refuse it too, not
    // diff each micro-batch on its own
    assert(condition(graft.mwa.MwaPipelineSpec.windowDiff) ==
      "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING")
    assert(condition(VisOps.diff) == "NON_TIME_WINDOW_NOT_SUPPORTED_IN_STREAMING")
  }

  test("processor registry + metadata-only pass + batch plan") {
    val tmp = tmpDir("graft_proc")
    val spec = VisGenerator.Spec(nTimes = 12, nAnts = 4, nCoarse = 2, nFine = 4)
    VisStore.write(VisGenerator.vis(spark, spec), tmp)
    val proc = graft.mwa.Processors.forExtensions(Set("fits", "metafits"))
    assert(proc.contains(FitsProcessor))
    val vis = proc.get.read(spark, graft.mwa.Manifest.fromPaths(spark, Nil), tmp)
    val times = FitsProcessor.possibleTimes(vis).collect()
    assert(times.length == spec.nTimes)
    assert(times.map(_.getInt(0)).toSeq == (0 until spec.nTimes))
    // 10 GB / 16 GB avail -> 7*10//16*2 = 8 planned batches; step = 12//8
    // = 1, so the slice loop yields 12 slices — the reference's own
    // range(0, len, step) overshoot semantics (processors.py:169-172)
    val plan = FitsProcessor.batchPlan(vis, sizeGb = 10, availMemGb = 16)
    assert(plan.select("batch").distinct().count() == 12)
    // 1 GB -> single batch
    val one = FitsProcessor.batchPlan(vis, sizeGb = 1, availMemGb = 16)
    assert(one.select("batch").distinct().count() == 1)
  }
}
