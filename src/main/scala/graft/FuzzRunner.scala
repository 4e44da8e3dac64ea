package graft

import java.nio.file.{Files, Paths}

/** Differential-fuzzing executor (round-15 verdict task 3): runs every
  * `*.sql` file in a directory through `spark.sql` over the registered
  * testdata views and dumps one parquet per query, for
  * `tools/fuzz_check.py` to compare bit-for-bit against DuckDB running
  * the SAME SQL. A query that fails to plan/execute writes
  * `<name>.err` instead — the checker classifies one-sided failures
  * (possible dialect gap or engine bug) separately from both-sided ones.
  *
  * The session comes from Engine.session, as Verify's does, so a fuzz
  * divergence is a real engine-semantics divergence, not a harness-config
  * artifact.
  *
  * Usage: runMain graft.FuzzRunner <sfDir> <sqlDir> <outDir>
  */
object FuzzRunner {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, sqlDir, outDir) = args.take(3)
    val spark = Engine.session()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "documents", "embeddings"))
      Tables.load(spark, sfDir, t).createOrReplaceTempView(t)
    Tables.events(spark, sfDir).createOrReplaceTempView("events")
    new java.io.File(outDir).mkdirs()
    val files = new java.io.File(sqlDir).listFiles
      .filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    var ok, err = 0
    files.foreach { f =>
      val name = f.getName.stripSuffix(".sql")
      val sql = new String(Files.readAllBytes(f.toPath), "UTF-8")
      // a PRIOR sweep's error marker must not outlive a now-passing query
      // (a reused workdir otherwise reports stale spark-only errors)
      Files.deleteIfExists(Paths.get(s"$outDir/$name.err"))
      try {
        spark.sql(sql).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        ok += 1
      } catch { case e: Throwable =>
        Files.write(Paths.get(s"$outDir/$name.err"),
          (e.getClass.getName + ": " + String.valueOf(e.getMessage))
            .getBytes("UTF-8"))
        err += 1
      }
    }
    System.err.println(s"[fuzz] $ok ok, $err errored of ${files.length}")
    spark.stop()
  }
}
