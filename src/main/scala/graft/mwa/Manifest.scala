package graft.mwa

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.functions._

/** File-manifest construction: the reference's dict-of-lists file grouping
  * (`configurators.py:228-248`) re-expressed as a manifest DataFrame with
  * derived columns. A manifest is one row per file, built on the driver
  * as a local relation, so [[Validation]]'s collects launch no Spark job.
  *
  * Scalar derivations (SURVEY §2.7):
  *  - C1 channel token:  regex `(gpubox|ch)(\d+)` over the file NAME
  *    (`utils.py:61-78`); `ch` -> direct int, `gpubox` -> metafits lookup.
  *  - C2 obsid: stem before first `_` (`utils.py:82-87`).
  *  - C3 extension: suffix after last dot (`configurators.py:232`).
  *  - C4 stem: name minus extension (`configurators.py:245`).
  */
object Manifest {

  /** Build the manifest DataFrame from a list of paths. Pure column
    * derivations — no I/O. size_mb defaults to 0 when unknown. */
  def fromPaths(spark: SparkSession, paths: Seq[String],
                sizesMb: Map[String, Long] = Map.empty): DataFrame = {
    import spark.implicits._
    withDerived(paths.map(p => (p, sizesMb.getOrElse(p, 0L))).toDF("file_path", "size_mb"))
  }

  /** [[fromPaths]] over Spark's file index of `dir`, listed on the driver: recursive like the
    * rglob of `utils.py:188`, `_`/`.` names skipped; a missing `dir` fails with PATH_NOT_FOUND. */
  def fromDirectory(spark: SparkSession, dir: String): DataFrame = {
    val fs = new Path(dir).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(dir))
    if (!fs.exists(root)) throw new AnalysisException("PATH_NOT_FOUND", Map("path" -> root.toString))
    val files = new InMemoryFileIndex(spark, Seq(root), Map("recursiveFileLookup" -> "true"), None)
      .allFiles().map(f => f.getPath.toString -> f.getLen / (1024 * 1024)).sortBy(_._1)
    fromPaths(spark, files.map(_._1), files.toMap)
  }

  /** Add the derived columns (name, ext, stem, obsid, channel token). */
  def withDerived(files: DataFrame): DataFrame =
    files
      .withColumn("name", element_at(split(col("file_path"), "/"), -1))
      .withColumn("ext", regexp_extract(col("name"), "\\.([^./]+)$", 1))
      .withColumn("stem", regexp_replace(col("name"), "\\.[^.]*$", ""))
      .withColumn("obsid", substring_index(col("stem"), "_", 1))
      .withColumn("chan_kind", regexp_extract(col("name"), "(gpubox|ch)(\\d+)", 1))
      .withColumn("chan_token",
        when(col("chan_kind") =!= "",
          regexp_extract(col("name"), "(gpubox|ch)(\\d+)", 2).try_cast("int")))

  /** C1 completed: resolve channel numbers (J1, `utils.py:49-59`). A `ch`
    * token is the channel itself; a `gpubox` token is looked up in the
    * metafits' gpubox_number -> rec_chan_number pairs, a literal map (an
    * observation has 24 coarse channels), so each file keeps one row even
    * when metafits disagree on a gpubox (`channel_tables_differ` reports
    * that). Unresolvable rows, including a token past Int.MaxValue, keep
    * channel = null; the validation layer turns them into errors. */
  def withChannel(manifest: DataFrame, recChanByGpubox: Map[Int, Int]): DataFrame =
    manifest.withColumn("channel",
      when(col("chan_kind") === "ch", col("chan_token"))
        .when(col("chan_kind") === "gpubox",
          element_at(typedLit(recChanByGpubox), col("chan_token"))))

  /** G1: ext -> sorted file list (`configurators.py:228-235`). */
  def groupByExtension(manifest: DataFrame): DataFrame =
    manifest.groupBy("ext")
      .agg(sort_array(collect_list(col("file_path"))).as("files"))

  /** G2: (obsid, ext) -> sorted file list (`configurators.py:238-248`). */
  def groupByObsidAndExtension(manifest: DataFrame): DataFrame =
    manifest.groupBy("obsid", "ext")
      .agg(sort_array(collect_list(col("file_path"))).as("files"))

  /** G4: per-observation (obsid, first metafits stem, fits files) rows
    * (`configurators.py:270-276` observations() generator). */
  def observations(manifest: DataFrame): DataFrame = {
    // stem of the path-sorted-FIRST metafits (reference takes
    // file_group["metafits"][0] of the sorted list, configurators.py:274)
    val metafits = manifest.filter(col("ext") === "metafits")
      .groupBy("obsid")
      .agg(min_by(col("stem"), col("file_path")).as("metafits_stem"))
    val fits = manifest.filter(col("ext") === "fits")
      .groupBy("obsid").agg(sort_array(collect_list(col("file_path"))).as("fits_files"))
    fits.join(metafits, Seq("obsid"), "left")
  }

  /** G7: total size (`configurators.py:263-265`). */
  def totalSizeMb(manifest: DataFrame): Long =
    manifest.agg(coalesce(sum(col("size_mb")), lit(0L))).head().getLong(0)
}
