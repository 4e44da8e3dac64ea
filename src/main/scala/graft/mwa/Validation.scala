package graft.mwa

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Multi-error validation (G8), run on the driver like the reference's
  * rules over plain lists (`configurators.py:136-185`,
  * `processors.py:131-148`): each check reads its inputs with one
  * `collect()` per input, evaluates every rule in plain Scala and returns
  * ALL violations together, in rule order, as one local (code, message)
  * DataFrame that [[enforce]] collects without launching a job. Neither
  * input needs a distributed query: a manifest is one row per listed file,
  * listed on the driver by Spark's own file index ([[Manifest]]), and a
  * channel table has one row per coarse channel (24 for an MWA
  * observation), both local relations. Spark folds a `collect()` over a
  * local relation on the driver, so on those inputs validation launches
  * no Spark job at all.
  */
object Validation {

  private def violations(spark: SparkSession, rules: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    rules.toDF("code", "message")
  }

  /** File-set rules (entry point A, `configurators.py:136-185`). */
  def validateFileSet(spark: SparkSession, manifest: DataFrame,
                      config: GraftConfig = GraftConfig()): DataFrame = {
    val files = manifest.select("ext", "obsid").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val exts = files.map(_._1).distinct
    val rules = Seq.newBuilder[(String, String)]

    // no supported type at all (configurators.py:148-150)
    if (!exts.exists(Model.supportedTypes))
      rules += "no_supported_type" ->
        s"No supported file types found. Supported types are: ${Model.supportedTypes.mkString(", ")}"

    // fits => metafits present (configurators.py:153-154)
    if (exts.contains("fits") && !exts.contains("metafits"))
      rules += "fits_requires_metafits" -> "FITS files require metafits files to be present."
    else if (exts.contains("fits")) {
      // every obsid group (ANY extension — reference groups all files by
      // obsid, configurators.py:238-248) must contain a metafits
      // (configurators.py:157-162, 250-256)
      val metaObsids = files.collect { case ("metafits", obsid) => obsid }.toSet
      if (files.exists { case (_, obsid) => !metaObsids(obsid) })
        rules += "metafits_missing_for_obsid" -> "Metafits files are missing for some obsids."
    }

    // unsupported extension set-diff O4 (configurators.py:164-168)
    val unsupported = exts.filterNot(Model.supportedTypes)
    if (unsupported.nonEmpty)
      rules += "unsupported_types" -> s"Unsupported file types found: ${unsupported.mkString(", ")}"

    // format mutual exclusion (configurators.py:171-176)
    if (exts.contains("uvfits") && exts.contains("uvh5"))
      rules += "uvfits_uvh5_conflict" -> "Cannot use both uvfits and uvh5 files."
    if (exts.contains("ms") && (exts.contains("uvh5") || exts.contains("uvfits")))
      rules += "ms_conflict" -> "Cannot use both ms and uvfits/uvh5 files."

    // sel/skip conflict (configurators.py:179-180)
    if (config.selAnts.nonEmpty && config.skipAnts.nonEmpty)
      rules += "sel_skip_conflict" -> "Cannot specify both sel_ants and skip_ants."

    violations(spark, rules.result())
  }

  /** Processor rules (entry point B, `processors.py:131-148`).
    *
    * @param channelTables per-metafits channel dimension rows with a
    *   `source` column naming the metafits file — consistency is checked by
    *   comparing each source's sorted row list (row order ignored,
    *   duplicates counted), one sort per source instead of the
    *   reference's O(n^2) pairwise DataFrame.equals loop
    *   (`processors.py:88-105`).
    */
  def validateProcessor(spark: SparkSession, manifest: DataFrame,
                        channelTables: DataFrame): DataFrame = {
    val chans = channelTables.select("source", "gpubox_number", "rec_chan_number",
      "chan_start_hz", "chan_centre_hz", "chan_end_hz").collect()
    val recChanByGpubox = chans.collect {
      case r if !r.isNullAt(1) && !r.isNullAt(2) =>
        r.getAs[Number](1).intValue -> r.getAs[Number](2).intValue
    }.toMap
    val files = Manifest.withChannel(manifest, recChanByGpubox)
      .select("ext", "name", "chan_kind", "channel").collect()
    val rules = Seq.newBuilder[(String, String)]

    if (!files.exists(_.getString(0) == "metafits"))
      rules += "no_metafits" -> "No metafits files found."

    // all metafits must describe the same channels (J4)
    val tables = chans.groupBy(_.get(0)).values
      .map(_.map(_.toSeq.tail.mkString(",")).sorted.toSeq)
    if (tables.toSet.size > 1)
      rules += "channel_tables_differ" -> "Channels do not match between metafits files."

    // every data file must resolve a channel (utils.py:61-78 error paths)
    files.filter(r => r.getString(0) == "fits" && r.isNullAt(3)).foreach { r =>
      rules += "channel_unresolved" -> (
        if (r.getString(2) == "") s"Filename ${r.getString(1)} does not contain channel information."
        else s"GPUBOX not found in metafits for ${r.getString(1)}.")
    }

    violations(spark, rules.result())
  }

  /** on_error policy (`processors.py:142-148`). Returns true when valid. */
  def enforce(violations: DataFrame, onError: OnError = OnError.Raise): Boolean = {
    val errs = violations.collect().map(r => r.getString(1))
    if (errs.isEmpty) true
    else onError match {
      case OnError.Raise =>
        throw new IllegalArgumentException(
          "Validation failed with the following errors:\n" + errs.mkString(", "))
      case OnError.Warn =>
        System.err.println("Validation warnings:\n" + errs.mkString(", "))
        false
      case OnError.Ignore => false
    }
  }
}
