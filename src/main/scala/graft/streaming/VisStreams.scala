package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming form of the INS analytic (SURVEY §7.7): visibility rows
  * arriving as a stream are reduced to the incoherent noise spectrum by
  * the batch operator itself (`VisOps.ins` over [[visStream]]), in
  * complete output mode — per-cell means update as baselines stream in.
  *
  * The sky-subtraction diff is a time-window operation and runs at the
  * mediation boundary (it needs t and t+1 together — in a real deployment
  * the correlator feed is diffed as it lands, exactly like the reference
  * diffs inside its reader); the streaming stage consumes diffed rows.
  */
object VisStreams {

  def visStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream
      .schema(spark.read.parquet(path).schema)
      .parquet(path)
}
