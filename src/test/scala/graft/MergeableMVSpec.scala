package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import graft.flow.{FlowGen, FlowMessage}
import graft.streaming.{FlowStreams, ManifestTable}
import graft.streaming.FlowStreams.MergeableMV

/** The one MV mechanism, table-driven over every [[MergeableMV]]: each MV
  * streams, folds online and absorbs a replayed batch through the same
  * append/start/fold bodies, and none of that moves its finalized reads. */
class MergeableMVSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_mv").toString

  /** Each MV with every finalizing read it serves. */
  private val mvs: Seq[(String, MergeableMV, Seq[(SparkSession, String) => DataFrame])] = Seq(
    ("rollup", FlowStreams.Rollup,
      Seq(FlowStreams.readRollupManaged, FlowStreams.readTrafficMatrixManaged)),
    ("top-talkers", FlowStreams.TopTalkers, Seq(FlowStreams.readTopTalkersManaged)),
    ("bytes-quantiles", FlowStreams.BytesQuantiles, Seq(FlowStreams.readBytesQuantilesManaged)),
    ("anomaly", FlowStreams.Anomaly,
      Seq(FlowStreams.readAnomalySeriesManaged, FlowStreams.readAnomalyAlarmsManaged,
        FlowStreams.readAnomalyMadSeriesManaged)),
    ("HLL unique-src", FlowStreams.UniqueSrc, Seq(FlowStreams.readUniqueSrcManaged)),
    ("theta unique-src", FlowStreams.UniqueSrcTheta,
      Seq(FlowStreams.readUniqueSrcOverlapManaged(_, _))))

  for ((name, mv, reads) <- mvs)
    test(s"$name MV: streamed reads survive an online fold, a no-op refold and a batch replay") {
      implicit val sqlCtx = spark.sqlContext
      val table = tmp()
      // three batches over two days: repeated keys, and a day pair for
      // the overlap read
      val batches = (0 until 3).map(b =>
        FlowGen.flows(spark, 200, seed = 500 + b, baseTime = 1704067200L + b * 43200L,
          ratePerSec = 1).collect().toSeq)
      val src = MemoryStream[FlowMessage]
      val q = mv.start(src.toDF(), table, tmp(), Trigger.ProcessingTime(100L))
      batches.foreach { b => src.addData(b); q.processAllAvailable() }
      q.stop()
      // row order is not part of every read's contract
      def readAll(): Seq[Seq[String]] =
        reads.map(_(spark, table).collect().map(_.toString).sorted.toSeq)
      val streamed = readAll()
      assert(streamed.head.nonEmpty)
      assert(ManifestTable.maxBatchId(table) === 2L, "one commit per micro-batch")
      assert(ManifestTable.filesByPartition(ManifestTable.snapshot(table)._2)
        .exists(_._2.size > 1), "the streamed table must have something to fold")
      assert(mv.optimizeOnline(spark, table))
      assert(readAll() === streamed, "the online fold must be read-invisible")
      val folded = ManifestTable.snapshot(table)._1
      assert(mv.optimizeOnline(spark, table))
      assert(ManifestTable.snapshot(table)._1 === folded, "a folded table must not refold")
      // a checkpoint replay of the last batch id commits nothing
      mv.append(spark.createDataFrame(batches.last), table, 2L)
      assert(ManifestTable.snapshot(table)._1 === folded)
      assert(readAll() === streamed, "a replayed batch must not double-count")
    }
}
