package perfbench

import java.nio.file.{Files, Paths}

/** Benchmark driver JVM: runs one workload and writes the raw results file
  * (samples, scalars, checked operations, spans) that run.py turns into the
  * metrics line. Usage:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <out file> <cpus>` */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, Paths.get(argv(5)).toAbsolutePath, argv(6).toInt)
    val spark = graft.GraftSession.getOrCreate(s"local[${a.cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val w: Workload = a.workload match {
      case "ingest_drain" => new IngestDrain(spark, a)
      case "live_dashboard" => new LiveDashboard(spark, a)
      case other => sys.error(s"unknown workload $other")
    }
    val result = w.run()
    val meta = Map("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
      "spark_version" -> spark.version, "jvm_s" -> (System.nanoTime() - t0) / 1e9)
    spark.stop()
    val sb = new java.lang.StringBuilder
    Json.write(result ++ Map("meta" -> meta), sb)
    Files.write(a.out, sb.toString.getBytes("UTF-8"))
    sys.exit(0)
  }
}
