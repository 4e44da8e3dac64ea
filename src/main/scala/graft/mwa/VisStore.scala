package graft.mwa

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Storage layout for the visibility fact table (SURVEY §1.3): Parquet
  * partitioned by (obsid, coarse_chan) — the same two axes the reference
  * groups files by (`configurators.py:238-248`, `utils.py:61-78`).
  *
  * Why this layout at 100 TB:
  *  - observation- and channel-scoped queries prune whole directories
  *    (PartitionFilters, zero I/O for untouched channels);
  *  - the diff W1 clusters by (obsid, coarse_chan, ant1, ant2, pol) and
  *    orders by (freq_hz, time_idx). A Parquet scan reports no layout, so
  *    here W1 still hash-shuffles and sorts every visibility, and the INS
  *    shuffles its partial aggregates; only the raw-file scan
  *    (`graft-vis`) reports its (obsid, coarse_chan) key groups and its
  *    rows in W1's order, and runs both with no exchange and no sort;
  *  - time-slice predicates (F7) ride Parquet row-group stats on time_idx
  *    within each partition file.
  */
object VisStore {

  def write(vis: DataFrame, path: String,
            mode: SaveMode = SaveMode.Overwrite): Unit =
    vis.write
      .mode(mode)
      .partitionBy("obsid", "coarse_chan")
      .parquet(path)

  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** TSV sink (S8, `export_tsv` at `configurators.py:97`): tab-separated
    * with header, one directory per export. */
  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "true")
      .csv(path)

  def readTsv(spark: SparkSession, path: String,
              schema: Option[org.apache.spark.sql.types.StructType] = None): DataFrame = {
    val r = spark.read.option("sep", "\t").option("header", "true")
    schema.map(r.schema).getOrElse(r.option("inferSchema", "true")).csv(path)
  }
}
