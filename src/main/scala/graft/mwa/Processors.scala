package graft.mwa

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Strategy-pattern processor surface (`processors.py:23-67`): a processor
  * declares which file types it handles, validates a file set, and plans /
  * executes the read. The reference's `DEFAULT_READERS` decorator registry
  * becomes a plain Scala registry map.
  *
  * The reference's memory-bounded batch loop (`_batched_read`,
  * processors.py:154-198) exists here only as a PLAN — Spark bounds memory
  * through partitioning + maxPartitionBytes + spill, so the plan is
  * informational parity (and feeds tests), not an execution mechanism.
  */
trait UVDataFileProcessor {
  /** `can_handle` (processors.py:72-78). */
  def canHandle(extensions: Set[String]): Boolean

  /** `validate` (processors.py:131-148): all errors at once, policy-gated. */
  def validate(spark: SparkSession, manifest: DataFrame,
               channelTables: DataFrame,
               onError: OnError = OnError.Raise): Boolean

  /** `read`: resolve the file set to the visibility DataFrame. */
  def read(spark: SparkSession, manifest: DataFrame, visPath: String): DataFrame
}

object FitsProcessor extends UVDataFileProcessor {
  override def canHandle(extensions: Set[String]): Boolean =
    extensions.contains("fits")

  override def validate(spark: SparkSession, manifest: DataFrame,
                        channelTables: DataFrame,
                        onError: OnError = OnError.Raise): Boolean =
    Validation.enforce(
      Validation.validateProcessor(spark, manifest, channelTables), onError)

  /** The read of the mediated, (obsid, coarse_chan)-partitioned vis
    * Parquet layout (VisStore): a pruned scan. Raw gpubox files are
    * decoded by the `graft-vis` source instead; `VisStore.write` of that
    * scan is the mediation. */
  override def read(spark: SparkSession, manifest: DataFrame,
                    visPath: String): DataFrame =
    VisStore.read(spark, visPath)

  /** S3 — metadata-only pass (`read_data=False`, processors.py:163-165,
    * 187-189): learn the distinct sorted times WITHOUT touching the
    * payload. Column pruning reduces this to a single-column scan; on the
    * partitioned layout it reads only time_idx/time_jd pages. */
  def possibleTimes(vis: DataFrame): DataFrame =
    vis.select(col("time_idx"), col("time_jd")).distinct().orderBy(col("time_idx"))

  /** W4/C9 — the reference's dynamic batch plan (`processors.py:166-172`):
    * times split into `computeOptimalBatches(size)` contiguous slices.
    * Returns (time_idx, batch) — informational parity; Spark's equivalent
    * memory bound is partitioning + spill. */
  def batchPlan(vis: DataFrame, sizeGb: Long, availMemGb: Long): DataFrame = {
    val times = possibleTimes(vis)
    val n = times.count()
    val batches = Model.computeOptimalBatches(math.max(sizeGb, 1), availMemGb = availMemGb)
    val step = math.max(1L, n / batches)
    times.withColumn("batch", floor(
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("time_idx"))).cast("long").minus(1) / step))
  }
}

/** `DEFAULT_READERS` registry (processors.py:23-38). */
object Processors {
  val defaultReaders: Map[String, UVDataFileProcessor] =
    Map("fits" -> FitsProcessor)

  /** First processor that can handle the extension set. */
  def forExtensions(exts: Set[String]): Option[UVDataFileProcessor] =
    defaultReaders.values.find(_.canHandle(exts))
}
