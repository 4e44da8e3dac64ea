package graft.sources

import java.nio.file.Files
import graft.SparkSpec

/** Pins the deliberate CASA MeasurementSet descope: an `.ms` table
  * directory under a `graft-vis` path must fail AT PLAN TIME with the
  * typed error naming the supported conversion path — never fall through
  * to the gpubox decoder or a generic file-format stack trace. (Why the
  * descope: see MsFormat's scaladoc — no public byte-level spec of the
  * CASA Table Data System exists to decode against, unlike FITS/HDF5.) */
class MsDescopeSpec extends SparkSpec {

  test("an .ms directory fails with the typed MsNotSupportedException") {
    val dir = java.nio.file.Paths.get(tmpDir("graft_ms_descope_"))
    val ms = dir.resolve("1234567890.ms")
    Files.createDirectories(ms.resolve("ANTENNA"))
    Files.write(ms.resolve("table.dat"), Array[Byte](0)) // shape only
    val e = intercept[MsNotSupportedException] {
      spark.read.format("graft-vis").option("path", dir.toString)
        .load().collect()
    }
    assert(e.getMessage.contains("1234567890.ms"))
    assert(e.getMessage.contains("uvfits"), "error must name the conversion path")
    assert(e.getMessage.contains("uvh5"))
  }

  test("ms detection does not misfire on plain files or other directories") {
    val dir = java.nio.file.Paths.get(tmpDir("graft_ms_neg_"))
    Files.write(dir.resolve("notes.ms"), Array[Byte](1)) // FILE, not table dir
    Files.createDirectories(dir.resolve("subdir"))
    assert(!VisSource.inputs(dir.toString).contains(MsFormat.Ext))
  }
}
