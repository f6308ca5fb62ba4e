package perfbench

/** JVM side of the benchmark. run.py starts this with the paths it owns;
  * the result is one JSON file (see [[Report]]). */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val rep = new Report
    val code =
      try {
        val t0 = System.nanoTime()
        val spark = graft.GraftSession.build("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        rep.info("session_start_s", Jvm.uptimeS)
        rep.info("session_build_s", (System.nanoTime() - t0) / 1e9)
        rep.info("tables", o.rows)
        o.workload match {
          case "query_library" => new LibraryBench(o, spark, rep).run()
          case "read_hot" | "mixed_rw" => new ServeBench(o, spark, rep).run()
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
        rep.metric("peak_rss_mb", Jvm.peakRssMb, "MB")
        rep.info("env", Map(
          "heap_max_mb" -> Jvm.heapMaxMb,
          "jvm" -> System.getProperty("java.vm.version"),
          "spark_version" -> spark.version,
          "spark_master" -> spark.sparkContext.master,
          "spark_conf" -> spark.conf.getAll.filter { case (k, _) =>
            k.startsWith("spark.sql.") || k.startsWith("spark.master") ||
              k.startsWith("spark.driver.") || k.startsWith("spark.default")
          }.toSeq.sortBy(_._1).toMap,
          "available_processors" -> Runtime.getRuntime.availableProcessors()))
        spark.stop()
        0
      } catch { case e: Throwable =>
        rep.note(s"benchmark aborted: $e")
        e.printStackTrace()
        1
      }
    rep.write(o.resultFile)
    // HTTP server and Derby threads are not daemons: leave explicitly
    System.exit(code)
  }
}
