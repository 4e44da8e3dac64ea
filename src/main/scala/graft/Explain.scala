package graft

/** Dev tool: print the formatted physical plan (and optionally run) a
  * catalog query. Usage: runMain graft.Explain <queryName> [sfDir] [run]
  * A comma-separated name list plus `out=<dir>` writes each plan to
  * <dir>/<name>.txt instead (one session for the whole batch). */
object Explain {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = args.drop(1).find(a => !a.startsWith("out=") && a != "run")
      .getOrElse("/root/testdata/sf0.1")
    val outDir = args.find(_.startsWith("out=")).map(_.stripPrefix("out="))
    val spark = Engine.session()
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      outDir match {
        case Some(dir) =>
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(dir, s"$name.txt"),
            plan.getBytes("UTF-8"))
          System.err.println(s"[explain] wrote $dir/$name.txt")
        case None => df.explain("formatted")
      }
      if (args.contains("run")) {
        for (i <- 1 to 3) {
          val t0 = System.nanoTime()
          df.count()
          println(f"[explain] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.2fs")
        }
      }
    }
    spark.stop()
  }
}
