package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.streaming.Trigger
import graft.flow.FlowGen
import graft.sources.ProtoCodec
import graft.streaming.FlowStreams

/** A graft session lists files on the driver: a micro-batch of more files
  * than Spark's parallel-listing threshold (32 paths by default) builds its
  * relation without a separate listing job on the task slots.
  */
class DriverListingSpec extends SparkTestBase {
  private val ThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"
  private val Listing = "Listing leaf files and directories"

  /** Land 40 payload files of 10 framed records at once, run one
    * `Trigger.AvailableNow` raw-MV batch over them, and return the
    * descriptions of the jobs it started, the table's row count and its
    * byte sum next to the records' own. */
  private def oneBatchOf40Files(): (Seq[String], Long, Long, Long) = {
    val srcDir = Files.createTempDirectory("graft_listing_src")
    val table = Files.createTempDirectory("graft_listing_raw").toString
    val cp = Files.createTempDirectory("graft_listing_cp").toString
    val msgs = FlowGen.flows(spark, 400, seed = 61L).collect().toSeq
    msgs.grouped(10).zipWithIndex.foreach { case (g, i) =>
      Files.write(srcDir.resolve(f"payload_$i%03d.bin"), g.flatMap(ProtoCodec.encodeDelimited).toArray)
    }
    val (_, jobs) = jobsDuring {
      val q = FlowStreams.startRawMVManaged(ProtoCodec.binaryFileStream(spark, srcDir.toString).toDF(),
        table, cp, Trigger.AvailableNow())
      try q.awaitTermination() finally q.stop()
    }
    val written = FlowStreams.readRawManaged(spark, table)
    (jobs, written.count(), written.agg(sum("bytes")).head().getLong(0), msgs.map(_.bytes).sum)
  }

  test("a 40-file micro-batch runs no file-listing job and lands every file's rows") {
    val (jobs, rows, bytes, wantBytes) = oneBatchOf40Files()
    assert(jobs.nonEmpty, "the batch ran no job at all")
    assert(!jobs.exists(_.startsWith(Listing)), s"listing job in the batch: $jobs")
    assert(rows === 400L && bytes === wantBytes)
  }

  test("positive control: at Spark's default threshold the same batch runs exactly one listing job") {
    val previous = spark.conf.get(ThresholdKey)
    spark.conf.set(ThresholdKey, "32")
    try {
      val (jobs, rows, bytes, wantBytes) = oneBatchOf40Files()
      val listing = jobs.filter(_.startsWith(Listing))
      assert(listing.size === 1, s"jobs: $jobs")
      assert(listing.head.startsWith(s"$Listing for 40 paths"), listing.head)
      assert(rows === 400L && bytes === wantBytes)
    } finally spark.conf.set(ThresholdKey, previous)
  }
}
