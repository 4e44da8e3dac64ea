package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured-Streaming surface over the `events` schema (SURVEY §2.10):
  * tumbling/sliding/session windows, watermarked dedup. Each streaming
  * query also exists in batch form (q24/q26 in the catalog) so the DuckDB
  * oracle can certify the streaming results — batch/stream parity is the
  * correctness contract.
  */
object EventStreams {

  private val sinkId = new AtomicInteger(0)

  /** File-source stream over the sf-dir events parquet. The raw ts column
    * is rebuilt into a microsecond TIMESTAMP via the same dtype-adaptive
    * normalization as the batch reader (nanos-as-long or native micros) —
    * streaming time semantics (watermarks, windows) need a real timestamp
    * type, and stream/batch parity needs the identical rebuild. */
  /** Layout-adaptive file-source stream over one table of an sf dir.
    * Testdata tables come in two layouts: a bare `<name>.parquet` FILE
    * (driver-written) and a `<name>.parquet/` DIRECTORY of part files
    * (Spark-written, e.g. the ScaleUp sf1 derivation). The file-stream
    * source requires a directory basePath, so a directory table streams
    * directly; a bare file streams via its parent dir + a name glob.
    * Using the glob form unconditionally silently streamed ZERO batches
    * from directory tables (no part file is named `<name>.parquet`) —
    * eleven streaming queries returned empty at sf1 until the round-13
    * sf1 correctness sweep caught it. */
  private[graft] def streamTable(spark: SparkSession, dir: String,
      name: String, schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val src = spark.readStream.schema(schema)
    if (new java.io.File(dir.stripPrefix("file:"), name).isDirectory)
      src.parquet(s"$dir/$name")
    else
      src.option("pathGlobFilter", name).parquet(dir)
  }

  def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    // Watermarks reject TIMESTAMP_NTZ — the stream carries LTZ instead;
    // the session runs UTC so the instants line up with the NTZ batch twins.
    graft.Tables.normalizeTs(
      streamTable(spark, dir, "events.parquet", schema))
      .withColumn("ts", col("ts").cast("timestamp"))
  }

  /** Message-bus-shaped stream source: the built-in `rate` connector
    * (an unbounded generator of (timestamp, value) rows — the offset/
    * partition mechanics of a real bus without a broker in the loop),
    * adapted to the events schema. Every derived column is a pure
    * function of the rate source's monotonic `value`, so ANY ingested
    * prefix 0..n-1 can be recomputed exactly in batch from
    * `spark.range(n)` — that determinism is what lets a connector test
    * certify operator results without controlling the connector's
    * timing. The event-time column is synthetic (value-derived), NOT the
    * rate source's wall-clock timestamp, for the same reason.
    *
    * Operators downstream see the exact schema the file/memory streams
    * produce — swapping connectors is this one readStream call, which is
    * the source-agnosticism contract of Structured Streaming. */
  def rateEvents(spark: SparkSession, rowsPerSecond: Int = 5000,
                 partitions: Int = 4): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond.toLong)
      .option("numPartitions", partitions.toLong)
      .load()
      .select(eventColumnsOf(col("value")): _*)

  /** The rate->events column mapping, shared by the streaming source and
    * its batch-recompute twin (pure functions of the monotonic value). */
  def eventColumnsOf(value: org.apache.spark.sql.Column)
      : Seq[org.apache.spark.sql.Column] = Seq(
    value.as("event_id"),
    pmod(value * 2654435761L, lit(997L)).as("user_id"),
    element_at(array(lit("view"), lit("click"), lit("purchase"), lit("signup")),
      (pmod(value, lit(4L)) + 1).cast("int")).as("event_type"),
    // one synthetic event every 3 seconds from a fixed epoch: a few
    // thousand rows span multiple hourly windows
    timestamp_seconds(lit(1700000000L) + value * 3).as("ts"),
    (pmod(value * 31L, lit(10000L)).cast("double") / 100.0).as("value"))

  /** Tumbling hourly aggregation — the streaming twin of q24_hourly. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sv"))
      .select(col("win.start").as("w"), col("event_type"), col("n"), col("sv"))

  /** Sliding hourly aggregation, 15-minute slide: every event contributes
    * to exactly 4 overlapping windows (1h / 15m). Same shape as
    * [[hourlyCounts]] but with the slide argument — Spark expands each row
    * into its windows before the aggregation, so the shuffle carries
    * (window, type) partial aggregates, never 4x the raw events. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sv"))
      .select(col("win.start").as("w"), col("event_type"), col("n"), col("sv"))

  /** Session windows per user (30-minute gap) — streaming twin of
    * q26_sessionize (session counts per user). */
  def userSessions(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))

  /** APPEND-mode session windows (the production form of [[userSessions]],
    * which runs complete-mode): with a watermark, a session row is
    * emitted exactly once — when the watermark passes its end (last
    * event + gap) and the session provably cannot extend. State is
    * therefore bounded by OPEN sessions only, which is what makes
    * session aggregation viable on an unbounded stream. The sessions
    * still inside the final watermark horizon are withheld, and the
    * batch oracle replays that horizon — the same certification
    * technique as the s12 left-outer join. */
  def userSessionsAppend(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes").as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("sess.start").cast("timestamp_ntz").as("s_start"),
        col("sess.end").cast("timestamp_ntz").as("s_end"),
        col("user_id"), col("n_events"))

  /** Stream-stream interval self-join: each purchase joined to the same
    * user's signups in the preceding 7 days. Both sides are watermarked and
    * the time range is bounded on both ends, so Spark can expire join state
    * — the condition shape that keeps a stream-stream join's state finite
    * at any scale (an unbounded condition would accumulate state forever). */
  def purchaseSignupJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val s = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    p.join(s, col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
      .select("purchase_id", "signup_id")
  }

  /** LEFT OUTER variant of [[purchaseSignupJoin]]: every purchase, joined
    * to its preceding-7-day signups, with a NULL signup row for purchases
    * the engine can PROVE unmatched — emitted only once the watermark
    * passes the purchase's own event time, because until then a late
    * signup (up to 1 hour behind the stream head) could still match.
    * That proof obligation is the semantic difference between a batch
    * left join and a streaming one: the streaming result is the batch
    * result MINUS null-rows for purchases still inside the final
    * watermark horizon. The horizon is deterministic for a given input
    * (min over the two sides of max-event-time, ms-truncated, minus the
    * 1-hour delay), which is what makes this certifiable by a batch
    * oracle. State stays finite exactly as in the inner variant: the
    * two-sided time bound lets both sides evict. */
  def purchaseSignupLeftJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val s = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    p.join(s, col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "left_outer")
      .select("purchase_id", "signup_id")
  }

  /** FULL OUTER variant of [[purchaseSignupJoin]] — the last stream-stream
    * join mode: null-extended rows on BOTH sides, each emitted only when
    * the watermark PROVES no future match can arrive. The two proof
    * horizons are asymmetric, which is the interesting semantics: a
    * purchase p matches signups with s_ts <= p_ts, so p is provably
    * unmatched as soon as the watermark passes p_ts (same as the left
    * join); but a signup s matches purchases up to 7 days LATER
    * (p_ts in [s_ts, s_ts + 7d]), so s is provably unmatched only once
    * the watermark passes s_ts + 7 days. Both horizons are deterministic
    * functions of the input (min-of-max-event-times, ms-truncated, minus
    * the 1-hour delay), so the batch oracle can replay emission exactly.
    * State eviction follows the same bounds — both sides stay finite. */
  def purchaseSignupFullJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val s = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    p.join(s, col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "full_outer")
      .select("purchase_id", "signup_id")
  }

  /** RIGHT OUTER variant of [[purchaseSignupJoin]] — the signup side is
    * preserved: a signup's null-extended row emits only once the
    * watermark passes signup_ts + the 7-day match window (purchases up
    * to 7 days later could still match it — the LONG horizon, where the
    * left join's purchases prove unmatched at their own event time).
    * With [[purchaseSignupLeftJoin]] and [[purchaseSignupFullJoin]] this
    * completes all four stream-stream join modes, each horizon-oracled. */
  def purchaseSignupRightJoin(events: DataFrame): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val s = events.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    p.join(s, col("p_user") === col("s_user") &&
        col("s_ts") <= col("p_ts") &&
        col("s_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"), "right_outer")
      .select("purchase_id", "signup_id")
  }

  /** Watermarked streaming dedup on (user_id, event_type). */
  def dedupedStream(events: DataFrame): DataFrame =
    events.withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("user_id", "event_type")

  /** Structural guard for the round-13 silent-empty class (commit
    * 28ba634): a finite streaming run that ingested ZERO source rows is a
    * harness bug (wrong glob, wrong basePath, wrong layout), never a
    * result — an empty result table would sail through a rows-only check
    * and even match an accidentally-empty oracle. Every drain site calls
    * this after its final processAllAvailable, so Verify FAILS the query
    * loudly instead of dumping an empty parquet. */
  def assertDrained(q: org.apache.spark.sql.streaming.StreamingQuery,
                    what: String): Unit = {
    val prog = q.recentProgress
    val rows = prog.map(_.numInputRows).sum
    // recentProgress is a RING BUFFER capped at
    // spark.sql.streaming.numRecentProgressUpdates (default 100): a
    // healthy run with maxFilesPerTrigger=1 and >cap micro-batches could
    // evict every non-empty entry behind trailing zero-row updates and
    // fail here spuriously (round-14 ADVICE). Engine.session raises the
    // cap well above any finite drain's batch count; if a caller's
    // session didn't, the error below names the knob instead of
    // mis-blaming the source layout.
    val cap =
      try q.sparkSession.conf
        .get("spark.sql.streaming.numRecentProgressUpdates").toInt
      catch { case _: Exception => 100 }
    val wrapped = prog.length >= cap
    require(rows > 0,
      if (wrapped)
        s"streaming run '$what' shows ZERO input rows but its progress " +
          s"ring buffer is FULL (${prog.length} >= cap $cap) - the " +
          "non-empty entries may have been evicted; raise " +
          "spark.sql.streaming.numRecentProgressUpdates for this finite " +
          "drain before trusting (or blaming) the source layout"
      else
        s"streaming run '$what' drained ZERO input rows across " +
          s"${prog.length} progress updates - empty-source " +
          "layout bug (round-13 class, commit 28ba634), not a result")
  }

  /** Run a streaming transform to completion against the (finite) file
    * source via a memory sink, returning the final result table. This is
    * how the batch-parity queries execute a REAL streaming query inside
    * the Verify harness. */
  def runToBatch(spark: SparkSession, streamed: DataFrame,
                 outputMode: String = "complete"): DataFrame = {
    val name = s"graft_stream_sink_${sinkId.incrementAndGet()}"
    val q = streamed.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .start()
    try { q.processAllAvailable(); assertDrained(q, name) } finally q.stop()
    spark.table(name)
  }
}
