package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only kernel microbench (guide §1.4): times text-kernel columns with
  * the NOOP SINK — which computes every column of every row — because the
  * bench/profiler count() action lets the optimizer prune a signature
  * column that nothing downstream consumes (d04/d08's orderBy survives
  * count() but the simhash project does not). Not part of the engine
  * surface or the reported benchmark; used for the r21 kernel A/Bs.
  *
  * Usage: runMain graft.KernelBench [sfDir] [runs]
  */
object KernelBench {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val runs = if (args.length > 1) args(1).toInt else 5
    val spark = Engine.session()
    import graft.functions.TextFns
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).localCheckpoint(true)

    def time(label: String)(df: => DataFrame): Unit = {
      df.write.format("noop").mode("overwrite").save() // warmup: codegen+JIT
      val ts = (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.sorted
      System.err.println(
        f"[kernel] $label%-22s min ${ts.head}%6.3fs  median ${ts(ts.size / 2)}%6.3fs")
    }

    time("simhash64")(docs.select(TextFns.simhash64(col("text"))))
    time("simhash_portable")(docs.select(TextFns.simhashPortable(col("text"))))
    val sh = docs.select(col("doc_id"),
      TextFns.wordShingles(col("text"), 3).as("sh"))
      .filter(size(col("sh")) > 0).localCheckpoint(true)
    time("minhash_portable_k16")(sh.select(TextFns.minhashPortable(col("sh"), 16)))
    val sigs = docs.select(col("doc_id"),
      graft.functions.ArrayExprs.minhash_text(col("text"), 3, 128).as("sig"))
      .localCheckpoint(true)
    time("minhash_estimate")(sigs.as("a").join(
        sigs.as("b"), col("a.doc_id") % 50 === col("b.doc_id") % 50)
      .select(TextFns.minhashEstimate(col("a.sig"), col("b.sig"))))
    // r22 (verdict task 7): the portable banding digests — md5 over a
    // transform(slice) lambda per band — measured against the engine-
    // native xxhash64 banding on the same k=16 signatures
    val psigs = sh.select(col("doc_id"),
      TextFns.minhashPortable(col("sh"), 16).as("sig")).localCheckpoint(true)
    time("lsh_bands_portable")(psigs.select(
      explode(TextFns.lshBandsPortable(col("sig"), 16, 4)).as("b")))
    time("lsh_bands_native")(psigs.select(
      explode(TextFns.lshBands(col("sig"), 16, 4)).as("b")))
    spark.stop()
  }
}
