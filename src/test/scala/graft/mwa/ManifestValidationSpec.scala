package graft.mwa

import graft.SparkSpec
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Manifest derivations (C1-C4, G1-G4) and the multi-error validation
  * matrix (FIXTURES.md B.5) — every reference error path. */
class ManifestValidationSpec extends SparkSpec {

  private val goodPaths = Seq(
    "/data/1234567890_20230101000000_gpubox01_00.fits",
    "/data/1234567890_20230101000000_gpubox02_00.fits",
    "/data/1234567890.metafits",
    "/data/1234567891_20230101000100_ch133_00.fits",
    "/data/1234567891.metafits")

  private def codes(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.select("code").collect().map(_.getString(0)).toSet

  test("manifest derivations: ext, stem, obsid, channel token (C1-C4)") {
    val m = Manifest.fromPaths(spark, goodPaths)
    val rows = m.select("name", "ext", "stem", "obsid", "chan_kind", "chan_token")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getString(4), if (r.isNullAt(5)) -1 else r.getInt(5)))
      .toSet
    assert(rows.contains(("1234567890_20230101000000_gpubox01_00.fits", "fits",
      "1234567890_20230101000000_gpubox01_00", "1234567890", "gpubox", 1)))
    assert(rows.contains(("1234567891_20230101000100_ch133_00.fits", "fits",
      "1234567891_20230101000100_ch133_00", "1234567891", "ch", 133)))
    assert(rows.contains(("1234567890.metafits", "metafits", "1234567890",
      "1234567890", "", -1)))
  }

  test("gpubox -> channel via metafits lookup (J1)") {
    val m = Manifest.fromPaths(spark, goodPaths)
    val recChans = VisGenerator.channels(spark, VisGenerator.Spec(nCoarse = 2))
      .select("gpubox_number", "rec_chan_number").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    val resolved = Manifest.withChannel(m.filter(col("ext") === "fits"), recChans)
    val byName = resolved.select("name", "channel").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(byName("1234567890_20230101000000_gpubox01_00.fits") == 0) // gpubox 1 -> rec_chan 0
    assert(byName("1234567891_20230101000100_ch133_00.fits") == 133)  // direct
    assert(byName("1234567890_20230101000000_gpubox02_00.fits") == 1)
  }

  test("grouping G1/G2 sorted lists") {
    val m = Manifest.fromPaths(spark, goodPaths)
    val byExt = Manifest.groupByExtension(m).collect()
      .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byExt("fits").size == 3)
    assert(byExt("fits") == byExt("fits").sorted)
    val obs = Manifest.observations(m).collect()
    assert(obs.length == 2)
    val o1 = obs.find(_.getString(0) == "1234567890").get
    assert(o1.getAs[String]("metafits_stem") == "1234567890")
    assert(o1.getSeq[String](1).size == 2)
  }

  test("valid file set produces no violations") {
    val m = Manifest.fromPaths(spark, goodPaths)
    assert(Validation.validateFileSet(spark, m).isEmpty)
  }

  test("fits without metafits") {
    val m = Manifest.fromPaths(spark, Seq("/d/123_gpubox01.fits"))
    assert(codes(Validation.validateFileSet(spark, m))
      .contains("fits_requires_metafits"))
  }

  test("obsid group missing metafits") {
    val m = Manifest.fromPaths(spark, Seq(
      "/d/111_gpubox01.fits", "/d/111.metafits", "/d/222_gpubox01.fits"))
    assert(codes(Validation.validateFileSet(spark, m))
      .contains("metafits_missing_for_obsid"))
  }

  test("unsupported extension") {
    val m = Manifest.fromPaths(spark, Seq("/d/x.csvjunk", "/d/111.metafits"))
    assert(codes(Validation.validateFileSet(spark, m)).contains("unsupported_types"))
  }

  test("no supported types at all") {
    val m = Manifest.fromPaths(spark, Seq("/d/x.csvjunk"))
    val c = codes(Validation.validateFileSet(spark, m))
    assert(c.contains("no_supported_type") && c.contains("unsupported_types"))
  }

  test("uvfits/uvh5 and ms mutual exclusion") {
    val m1 = Manifest.fromPaths(spark, Seq("/d/a.uvfits", "/d/b.uvh5"))
    assert(codes(Validation.validateFileSet(spark, m1)).contains("uvfits_uvh5_conflict"))
    val m2 = Manifest.fromPaths(spark, Seq("/d/a.ms", "/d/b.uvfits"))
    assert(codes(Validation.validateFileSet(spark, m2)).contains("ms_conflict"))
  }

  test("sel/skip conflict reported alongside file errors (multi-error G8)") {
    val m = Manifest.fromPaths(spark, Seq("/d/123_gpubox01.fits"))
    val v = Validation.validateFileSet(spark, m,
      GraftConfig(selAnts = Seq(1), skipAnts = Seq(2)))
    val c = codes(v)
    assert(c.contains("sel_skip_conflict") && c.contains("fits_requires_metafits"))
    assert(v.count() >= 2) // all errors reported at once
  }

  test("processor validation: channel resolution errors (utils.py:57-78)") {
    val chans = VisGenerator.channels(spark, VisGenerator.Spec(nCoarse = 2))
      .withColumn("source", lit("m1"))
    // gpubox 9 not in metafits; file without channel token at all; a
    // channel token past Int.MaxValue
    val m = Manifest.fromPaths(spark, Seq(
      "/d/111_gpubox09.fits", "/d/111_nochannel.fits", "/d/111_ch99999999999_00.fits",
      "/d/111.metafits"))
    val v = Validation.validateProcessor(spark, m, chans)
    val msgs = v.filter(col("code") === "channel_unresolved")
      .select("message").collect().map(_.getString(0))
    assert(msgs.exists(_.contains("GPUBOX not found")))
    assert(msgs.exists(_.contains("does not contain channel information")))
    assert(msgs.exists(_.contains("111_ch99999999999_00.fits")))
    assert(msgs.length == 3)
  }

  test("processor validation: differing channel tables (J4)") {
    val c1 = VisGenerator.channels(spark, VisGenerator.Spec(nCoarse = 2))
      .withColumn("source", lit("m1"))
    val c2 = VisGenerator.channels(spark, VisGenerator.Spec(nCoarse = 2, freq0Hz = 1.4e8))
      .withColumn("source", lit("m2"))
    val m = Manifest.fromPaths(spark, Seq("/d/111.metafits"))
    val v = Validation.validateProcessor(spark, m, c1.unionByName(c2))
    assert(codes(v).contains("channel_tables_differ"))
    // the same rows in another order are the same table
    val c1Reversed = c1.orderBy(col("gpubox_number").desc).withColumn("source", lit("m2"))
    assert(Validation.validateProcessor(spark, m, c1.unionByName(c1Reversed)).isEmpty)
    // one duplicated row makes a different table
    val c1Dup = c1.unionByName(c1.limit(1)).withColumn("source", lit("m2"))
    assert(codes(Validation.validateProcessor(spark, m, c1.unionByName(c1Dup)))
      == Set("channel_tables_differ"))
  }

  test("FileSet: construction, accessors, eager validation (UVDataFileSet parity)") {
    val fs = FileSet.validated(spark, goodPaths)
    assert(fs.hasType("fits") && fs.hasType("metafits") && !fs.hasType("uvh5"))
    assert(fs.filesOf("fits").size == 3)
    assert(fs.filesOf("fits") == fs.filesOf("fits").sorted)
    assert(fs.suffix == ".diff.cross")
    assert(fs.obsidGroups.get.keySet == Set("1234567890", "1234567891"))
    assert(fs.obsidGroups.get("1234567890")("fits").size == 2)
    val obs = fs.observations()
    assert(obs.map(_._1).toSet == Set("1234567890", "1234567891"))
    // empty input rejected at construction (configurators.py:101-102)
    intercept[IllegalArgumentException](new FileSet(spark, Nil))
    // invalid set raises with ALL errors joined
    val e = intercept[IllegalArgumentException](
      FileSet.validated(spark, Seq("/d/x.fits", "/d/y.unknownext"),
        GraftConfig(selAnts = Seq(1), skipAnts = Seq(2))))
    assert(e.getMessage.contains("metafits"))
    assert(e.getMessage.contains("Unsupported"))
    assert(e.getMessage.contains("sel_ants"))
  }

  test("enforce on_error policy (processors.py:142-148)") {
    val m = Manifest.fromPaths(spark, Seq("/d/123_gpubox01.fits"))
    val v = Validation.validateFileSet(spark, m)
    intercept[IllegalArgumentException](Validation.enforce(v, OnError.Raise))
    assert(!Validation.enforce(v, OnError.Ignore))
    val ok = Validation.validateFileSet(spark, Manifest.fromPaths(spark, goodPaths))
    assert(Validation.enforce(ok, OnError.Raise))
    // the error text lists the violations in rule order
    val all = Manifest.fromPaths(spark,
      Seq("/d/123_gpubox01.fits", "/d/x.unknownext", "/d/a.uvfits", "/d/b.uvh5"))
    val e = intercept[IllegalArgumentException](Validation.enforce(Validation.validateFileSet(
      spark, all, GraftConfig(selAnts = Seq(1), skipAnts = Seq(2)))))
    assert(e.getMessage == "Validation failed with the following errors:\n" +
      "FITS files require metafits files to be present., " +
      "Unsupported file types found: unknownext, " +
      "Cannot use both uvfits and uvh5 files., " +
      "Cannot specify both sel_ants and skip_ants.")
    val c1 = VisGenerator.channels(spark, VisGenerator.Spec(nCoarse = 2))
      .withColumn("source", lit("m1"))
    val c2 = c1.limit(1).withColumn("source", lit("m2"))
    val e2 = intercept[IllegalArgumentException](Validation.enforce(Validation.validateProcessor(
      spark, Manifest.fromPaths(spark, Seq("/d/111_nochannel.fits")), c1.unionByName(c2))))
    assert(e2.getMessage == "Validation failed with the following errors:\n" +
      "No metafits files found., Channels do not match between metafits files., " +
      "Filename 111_nochannel.fits does not contain channel information.")
  }

  test("validation job budget on a listed directory: 1 job, 2 jobs, enforce none") {
    val dir = Paths.get(tmpDir("graft_job_budget"))
    val fx = Fits.fixtureSpec
    Fits.writeVis(dir, fx)
    Files.write(dir.resolve(s"${fx.obsid}.metafits"), Fits.primary(Seq(
      Fits.cardInt("OBSID", fx.obsid), Fits.cardInt("NCOARSE", fx.nCoarse))))
    val m = Manifest.fromDirectory(spark, dir.toString)
    val chans = VisGenerator.channels(spark, fx).withColumn("source", lit("m1"))
    val (fileSet, fileSetJobs) = jobsOf(Validation.validateFileSet(spark, m))
    assert(fileSetJobs <= 1)
    val (processor, processorJobs) = jobsOf(Validation.validateProcessor(spark, m, chans))
    assert(processorJobs <= 2)
    val (valid, enforceJobs) =
      jobsOf(Validation.enforce(fileSet) && Validation.enforce(processor))
    assert(valid && enforceJobs == 0)
  }

  test("the file-set glue on a listed gpubox directory launches no Spark job") {
    // the sequence a raw-files-to-flags pass runs before its first scan:
    // list, check the file set, read the metafits, build its channel
    // table, check the processor inputs
    val dir = Paths.get(tmpDir("graft_glue_jobs"))
    val fx = Fits.fixtureSpec
    Fits.writeVis(dir, fx)
    Files.write(dir.resolve(s"${fx.obsid}.metafits"), Fits.primary(Seq(
      Fits.cardInt("OBSID", fx.obsid), Fits.cardInt("NCOARSE", fx.nCoarse),
      Fits.cardInt("NFINE", fx.nFine), Fits.cardDouble("FREQ0", fx.freq0Hz),
      Fits.cardDouble("DFHZ", fx.dfHz))))
    val (valid, jobs) = jobsOf {
      val m = Manifest.fromDirectory(spark, dir.toString)
      Validation.enforce(Validation.validateFileSet(spark, m)) && {
        val metaPath = m.filter(col("ext") === "metafits").select("file_path").head().getString(0)
        val h = Fits.readHeaders(new java.net.URI(metaPath).getPath).head
        val meta = VisGenerator.Spec(obsid = h.long("OBSID"), nCoarse = h.int("NCOARSE"),
          nFine = h.int("NFINE"), freq0Hz = h.double("FREQ0"), dfHz = h.double("DFHZ"))
        val chans = VisGenerator.channels(spark, meta)
          .withColumn("source", lit(s"${fx.obsid}.metafits"))
        Validation.enforce(Validation.validateProcessor(spark, m, chans))
      }
    }
    assert(valid && jobs == 0)
  }

  test("directory listing: hidden entries skipped, nested kept, file: URIs, whole MiB") {
    val dir = Paths.get(tmpDir("graft_listing"))
    val MiB = 1024 * 1024
    def write(rel: String, bytes: Int): Unit = {
      Files.createDirectories(dir.resolve(rel).getParent)
      Files.write(dir.resolve(rel), new Array[Byte](bytes))
    }
    write("a.fits", 3 * MiB - 1)
    write("sub/b.metafits", MiB)
    write("sub/deeper/c.uvh5", 10)
    Seq("_SUCCESS", ".a.crc", "_x", ".x", ".dot/d.fits", "_y/e.fits", "sub/_hidden/f.fits",
      "sub/.x/g.fits").foreach(write(_, 1))
    val rows = Manifest.fromDirectory(spark, dir.toString)
      .select("file_path", "size_mb").collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows == Seq(s"file:$dir/a.fits" -> 2L, s"file:$dir/sub/b.metafits" -> 1L,
      s"file:$dir/sub/deeper/c.uvh5" -> 0L))
    // the same rows the file sources' own listing gives
    val binaryFile = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .load(dir.toString).select(col("path"), (col("length") / MiB).cast("long"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
    assert(rows == binaryFile)
    val missing = dir.resolve("no_such_dir").toString
    val e = intercept[AnalysisException](Manifest.fromDirectory(spark, missing))
    assert(e.getCondition == "PATH_NOT_FOUND" && e.getMessage.contains(missing), e.getMessage)
  }

  test("VisGenerator.channels: literal rows, schema, and the Catalyst arithmetic bit for bit") {
    val c = VisGenerator.channels(spark)
    assert(c.schema == StructType(Seq(
      StructField("obsid", LongType, nullable = false),
      StructField("gpubox_number", IntegerType, nullable = false),
      StructField("rec_chan_number", IntegerType, nullable = false),
      StructField("chan_start_hz", DoubleType, nullable = false),
      StructField("chan_centre_hz", DoubleType, nullable = false),
      StructField("chan_end_hz", DoubleType, nullable = false))))
    assert(c.collect().map(_.toSeq).toSeq == Seq(
      Seq(1234567890L, 1, 0, 1.3e8, 1.3016e8, 1.3032e8),
      Seq(1234567890L, 2, 1, 1.3032e8, 1.3048e8, 1.3064e8)))
    // awkward doubles: the rows equal, bit for bit, the same operations
    // evaluated by Catalyst over spark.range
    val spec = VisGenerator.Spec(nCoarse = 24, nFine = 7, freq0Hz = 1.2345678901e8 + 0.1,
      dfHz = 1e5 / 3)
    val w = spec.nFine * spec.dfHz
    val catalyst = spark.range(spec.nCoarse).select(
      lit(spec.freq0Hz) + col("id") * w,
      lit(spec.freq0Hz) + col("id") * w + spec.nFine * spec.dfHz / 2,
      lit(spec.freq0Hz) + (col("id") + 1) * w)
    def bits(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(_.toSeq.map(v => java.lang.Double.doubleToRawLongBits(v.asInstanceOf[Double])))
        .toSeq
    assert(bits(VisGenerator.channels(spark, spec)
      .select("chan_start_hz", "chan_centre_hz", "chan_end_hz").collect()) ==
      bits(catalyst.collect()))
  }
}
