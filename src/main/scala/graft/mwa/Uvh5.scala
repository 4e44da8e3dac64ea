package graft.mwa

import java.nio.file.{Files, Path, Paths}

/** uvh5 (UVData-in-HDF5, the public pyuvdata on-disk memo format — the
  * reference's third input serialization, `configurators.py:43-48`):
  * a /Header group of scalar + 1-D metadata datasets and a /Data group of
  * blt-major (baseline-time, frequency, polarization) arrays — visdata as
  * complex64, flags as bytes, nsamples as float32. Written through the
  * minimal [[Hdf5]] subset with contiguous layout, carrying the same
  * dyadic fixture arithmetic as the gpubox/uvfits twins so the decode is
  * certified by the same oracle. AIPS polarization codes (XX=-5, YY=-6,
  * XY=-7, YX=-8) as the uvh5 spec requires. */
object Uvh5 {

  val PolCode: Map[String, Long] =
    Map("XX" -> -5L, "YY" -> -6L, "XY" -> -7L, "YX" -> -8L)
  val PolName: Map[Long, String] = PolCode.map(_.swap)

  def write(dir: Path, spec: VisGenerator.Spec): Path = {
    Files.createDirectories(dir)
    val path = dir.resolve(s"${spec.obsid}.uvh5")
    val baselines = VisGenerator.baselinePairs(spec.nAnts)
    val nBls = baselines.length
    val nBlts = spec.nTimes * nBls
    val nFreq = spec.nCoarse * spec.nFine
    val nPol = spec.pols.length

    // interleaved (re, im) with im = 0; no flags; every nsample 1
    val vis = new Array[Float](2 * nBlts * nFreq * nPol)
    val flags = new Array[Byte](nBlts * nFreq * nPol)
    val nsamples = Array.fill(nBlts * nFreq * nPol)(1.0f)
    var cell = 0
    for (t <- 0 until spec.nTimes;
         c <- VisGenerator.portableCells(spec, t, 0 until nFreq)) {
      vis(2 * cell) = c.re.toFloat
      cell += 1
    }

    import Hdf5._
    val dataDims = Seq(nBlts.toLong, nFreq.toLong, nPol.toLong)
    val header = Group("Header", Seq(
      Dataset("Ntimes", I64, Nil, longs(Seq(spec.nTimes))),
      Dataset("Nbls", I64, Nil, longs(Seq(nBls))),
      Dataset("Nblts", I64, Nil, longs(Seq(nBlts))),
      Dataset("Nfreqs", I64, Nil, longs(Seq(nFreq))),
      Dataset("Npols", I64, Nil, longs(Seq(nPol))),
      Dataset("Nants_data", I64, Nil, longs(Seq(spec.nAnts))),
      Dataset("ant_1_array", I64, Seq(nBlts),
        longs(for (_ <- 0 until spec.nTimes; (a1, _) <- baselines) yield a1.toLong)),
      Dataset("ant_2_array", I64, Seq(nBlts),
        longs(for (_ <- 0 until spec.nTimes; (_, a2) <- baselines) yield a2.toLong)),
      Dataset("time_array", F64, Seq(nBlts),
        doubles(for (t <- 0 until spec.nTimes; _ <- baselines)
          yield spec.jd0 + t * spec.dtDays)),
      Dataset("integration_time", F64, Seq(nBlts),
        doubles(Seq.fill(nBlts)(spec.dtDays * 86400.0))),
      Dataset("freq_array", F64, Seq(nFreq),
        doubles((0 until nFreq).map(f => spec.freq0Hz + f * spec.dfHz))),
      Dataset("channel_width", F64, Nil, doubles(Seq(spec.dfHz))),
      Dataset("polarization_array", I64, Seq(nPol),
        longs(spec.pols.map(PolCode))),
      // extra keywords (pyuvdata round-trips these): observation id and
      // the coarse-band layout the MWA pipeline partitions by
      Dataset("obsid", I64, Nil, longs(Seq(spec.obsid))),
      Dataset("nfine", I64, Nil, longs(Seq(spec.nFine)))))
    val data = Group("Data", Seq(
      Dataset("visdata", C64, dataDims, floats(vis.toIndexedSeq)),
      Dataset("flags", I8, dataDims, flags),
      Dataset("nsamples", F32, dataDims, floats(nsamples.toIndexedSeq))))
    Hdf5.write(path, Seq(header, data))
    path
  }

  /** The shared uvh5 fixture (same geometry/values as the gpubox and
    * uvfits fixtures). */
  @volatile private var dir: String = _
  def ensureFixture(): String = synchronized {
    if (dir == null) {
      val d = Paths.get(sys.props("java.io.tmpdir"), "graft_uvh5_fixture_v1")
      if (!Files.exists(d.resolve("_SUCCESS"))) {
        write(d, Fits.fixtureSpec)
        Files.write(d.resolve("_SUCCESS"), Array.emptyByteArray)
      }
      dir = d.toString
    }
    dir
  }
}
