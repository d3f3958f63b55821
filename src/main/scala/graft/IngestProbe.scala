package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.ProtoCodec
import graft.streaming.FlowStreams

/** Ingest-cost decomposition probe (dev tool for r17 verdict #1): times
  * each stage of the streaming-ingest pipeline IN ISOLATION over an
  * existing wire directory, so "where do the rows/s go" is measured
  * instead of argued. Batch-shape jobs over the same bytes the
  * streaming leg reads; run with `SPARK_GRAFT_WIRE_DIR` pointing at a
  * BenchScale wire corpus (optionally `SPARK_GRAFT_WIRE_FILES` to
  * subset). Prints one labeled line per stage.
  */
object IngestProbe {
  def main(args: Array[String]): Unit = {
    val wireDir = sys.env.getOrElse("SPARK_GRAFT_WIRE_DIR",
      sys.error("set SPARK_GRAFT_WIRE_DIR"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nFiles = sys.env.get("SPARK_GRAFT_WIRE_FILES").map(_.toInt)
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val files = {
      val all = new java.io.File(wireDir).listFiles().map(_.getPath).sorted
      nFiles.fold(all)(k => all.take(k))
    }
    def wire(): DataFrame = ProtoCodec.fromWire(
      spark.read.format("binaryFile").load(files: _*), "content").toDF()
    def consume(df: DataFrame): Unit =
      df.foreachPartition { (_: Iterator[org.apache.spark.sql.Row]) => () }
    def timed(label: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    val rows = wire().count()
    println(s"[probe] files=${files.length} rows=$rows")

    timed("decode_consume")(consume(wire()))
    timed("decode_project_consume")(consume(FlowStreams.projectRaw(wire())))
    timed("rollup_consume")(consume(FlowStreams.rollupPartials(wire())))
    val out = java.nio.file.Files.createTempDirectory("graft_probe")
    timed("raw_write_plain") {
      FlowStreams.projectRaw(wire()).write.mode("overwrite")
        .partitionBy("event_date").parquet(out.resolve("a").toString)
    }
    timed("raw_write_repart") {
      Storage.repartitionForWrite(FlowStreams.projectRaw(wire()),
          "event_date", cpus.toInt, Some(col("sequenceNum")))
        .write.mode("overwrite")
        .partitionBy("event_date").parquet(out.resolve("b").toString)
    }
    timed("persisted_pair") {
      val b = wire().persist()
      try {
        Storage.repartitionForWrite(FlowStreams.projectRaw(b),
            "event_date", cpus.toInt, Some(col("sequenceNum")))
          .write.mode("overwrite")
          .partitionBy("event_date").parquet(out.resolve("c").toString)
        FlowStreams.rollupPartials(b).write.mode("overwrite")
          .partitionBy("event_date").parquet(out.resolve("d").toString)
      } finally { b.unpersist(); () }
    }
    timed("unpersisted_pair") {
      val b = wire()
      Storage.repartitionForWrite(FlowStreams.projectRaw(b),
          "event_date", cpus.toInt, Some(col("sequenceNum")))
        .write.mode("overwrite")
        .partitionBy("event_date").parquet(out.resolve("e").toString)
      FlowStreams.rollupPartials(b).write.mode("overwrite")
        .partitionBy("event_date").parquet(out.resolve("f").toString)
    }
    // the REAL streaming shape (manifest commits, exactly-once), with and
    // without the online compactor racing — isolates the wrapper cost
    def streamingRun(label: String, compact: Boolean): Unit = timed(label) {
      import graft.streaming.ManifestTable
      val dir = java.nio.file.Files.createTempDirectory("graft_probe_s")
      val raw = dir.resolve("raw").toString
      val roll = dir.resolve("roll").toString
      val sub = dir.resolve("wire")
      java.nio.file.Files.createDirectory(sub)
      files.foreach { f =>
        val p = java.nio.file.Paths.get(f)
        java.nio.file.Files.createSymbolicLink(sub.resolve(p.getFileName), p)
      }
      val stream = ProtoCodec.binaryFileStream(spark, sub.toString,
        Map("maxFilesPerTrigger" -> "32")).toDF()
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val compactor = new Thread(() => {
        while (!stop.get()) {
          Thread.sleep(3000)
          if (!stop.get() && ManifestTable.snapshot(raw)._2.nonEmpty) {
            FlowStreams.compactRawOnline(spark, raw, filesPerPartition = 4)
            FlowStreams.optimizeRollupOnline(spark, roll)
            ()
          }
        }
      })
      if (compact) { compactor.setDaemon(true); compactor.start() }
      val q = stream.writeStream
        .foreachBatch { (batch: DataFrame, id: Long) =>
          val b = batch.persist()
          try {
            ManifestTable.append(
              Storage.repartitionForWrite(FlowStreams.projectRaw(b),
                "event_date", cpus.toInt, Some(col("sequenceNum"))),
              raw, Some("event_date"), id, Some("timeReceived"))
            ManifestTable.append(FlowStreams.rollupPartials(b), roll,
              Some("event_date"), id, Some("timeslot"))
          } finally { b.unpersist(); () }
        }
        .option("checkpointLocation", dir.resolve("cp").toString)
        .start()
      q.processAllAvailable()
      q.stop()
      stop.set(true)
      if (compact) compactor.join()
      Storage.deleteTree(dir)
    }
    streamingRun("streaming_manifest_nocompact", compact = false)
    streamingRun("streaming_manifest_compact", compact = true)
    Storage.deleteTree(out)
    spark.stop()
  }
}
