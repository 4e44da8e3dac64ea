package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory: every main (Verify, Bench, FuzzRunner,
  * ScaleUp, ProfileQ, Explain, Smoke, OpFuzz) and the
  * benchmark runner start the engine here, so every run's numbers describe
  * the same engine.
  *
  * Settings rationale (tuned for correctness parity with the DuckDB oracle
  * and for behavior that transfers to a real multi-executor cluster):
  *  - UTC session timezone: the oracle compares timestamps in UTC.
  *  - AQE on: runtime join-strategy switching, skew-join splitting and
  *    post-shuffle partition coalescing are the main levers that keep the
  *    same plans healthy at 1000x the data.
  *  - cores default to `SPARK_GRAFT_CPUS`, or the machine's processor count
  *    when it is unset; shuffle.partitions follows the core count. On a real
  *    cluster it would be sized to ~128MB post-shuffle partitions instead.
  *  - nanosAsLong: the `events` table is written with parquet
  *    TIMESTAMP(NANOS) which Spark does not read natively; Tables.events
  *    rebuilds a proper microsecond timestamp column from the raw longs.
  */
object Engine {
  def session(cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // EventStreams.assertDrained reads recentProgress, a ring buffer of
      // this many updates (Spark's default is 100)
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      // Tungsten sort/shuffle/agg buffers off-heap: the multi-million-row
      // window sorts otherwise churn the GC (observed 2-9s run-to-run
      // variance on the same query); off-heap pages take allocation out of
      // the heap entirely. Same setting a production cluster would run.
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "4g")
      // Broadcast blocks of 256 KB instead of 4 MB: every job broadcasts
      // its task binary, and a 4 MB block is a G1 humongous object (over
      // half a 1 MB region) that fresh heap pages back until the next
      // young GC. With the columnar decode's fewer GCs those pile up and
      // peak RSS grows; 256 KB blocks stay ordinary young objects.
      .config("spark.broadcast.blockSize", "256k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Apply the confs graft needs to an externally-created session (e.g. the
    * driver's). Dynamic confs only. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark
  }
}
