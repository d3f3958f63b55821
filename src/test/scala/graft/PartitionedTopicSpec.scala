package graft

import org.apache.spark.sql.functions._
import graft.flow.FlowGen
import graft.sources.PartitionedTopic

/** T7: the Kafka partitioned-topic contract over the file stand-in —
  * per-partition dense offsets, no cross-partition order, consumer
  * assignment, task fan-out, and streaming continuation.
  */
class PartitionedTopicSpec extends SparkTestBase {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // value-compare a FlowMessage (case-class == on Array[Byte] fields is
  // reference equality)
  private def key(m: graft.flow.FlowMessage): Seq[Any] =
    m.productIterator.map {
      case a: Array[Byte] => a.toSeq
      case x => x
    }.toSeq

  test("producer/consumer round-trip: dense per-partition offsets, order carried as data") {
    val dir = tmp("topic_rt")
    val msgs = FlowGen.flows(spark, 120, seed = 21).collect().toSeq
    // interleave produces across 2 partitions, several payloads each —
    // the reference topic's exact shape (2 partitions, many produces)
    val (p0, p1) = msgs.splitAt(70)
    var off0 = 0L; var off1 = 0L
    p0.grouped(25).foreach { g => off0 = PartitionedTopic.producePayload(dir, 0, off0, g) }
    p1.grouped(20).foreach { g => off1 = PartitionedTopic.producePayload(dir, 1, off1, g) }
    assert(off0 === 70 && off1 === 50)

    // a log appends: re-producing an already-written base offset is refused
    val dup = intercept[IllegalStateException](
      PartitionedTopic.producePayload(dir, 0, 0L, p0.take(1)))
    assert(dup.getMessage.contains("already produced"))

    val got = PartitionedTopic.read(spark, dir).collect()
    assert(got.length === 120)
    // per partition: offsets are exactly 0..n-1 (dense, unique, total
    // order) and sorting by offset reproduces the produced sequence
    Seq(0 -> p0, 1 -> p1).foreach { case (p, want) =>
      val part = got.filter(_.partition == p).sortBy(_.offset)
      assert(part.map(_.offset).toSeq === (0L until want.size.toLong))
      assert(part.map(r => key(r.msg)).toSeq === want.map(key))
    }
  }

  test("consumer assignment prunes to one partition at the file listing") {
    val dir = tmp("topic_assign")
    val msgs = FlowGen.flows(spark, 60, seed = 22).collect().toSeq
    PartitionedTopic.producePayload(dir, 0, 0L, msgs.take(30))
    PartitionedTopic.producePayload(dir, 1, 0L, msgs.drop(30))
    val only1 = PartitionedTopic.read(spark, dir, assign = Some(1))
    assert(only1.collect().forall(_.partition == 1))
    assert(only1.count() === 30)
    // the pruning is structural (a narrower load path), not a post-filter:
    // the plan's file index covers only the assigned directory
    val loc = only1.queryExecution.sparkPlan.toString
    assert(loc.contains("partition=1") && !loc.contains("partition=0"), loc)
  }

  test("decode fans out across tasks while offsets keep partitions replayable in order") {
    val dir = tmp("topic_fanout")
    val msgs = FlowGen.flows(spark, 200, seed = 23).collect().toSeq
    msgs.grouped(25).zipWithIndex.foreach { case (g, i) =>
      PartitionedTopic.producePayload(dir, i % 2, (i / 2) * 25L, g)
    }
    // a session tuned like a loaded cluster (tiny splits): payload files
    // map to MANY tasks — parallelism beyond Kafka's task-per-partition
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.files.maxPartitionBytes", "2048")
    s2.conf.set("spark.sql.files.openCostInBytes", "0")
    val ds = PartitionedTopic.read(s2, dir)
    assert(ds.rdd.getNumPartitions >= 4,
      s"expected task fan-out, got ${ds.rdd.getNumPartitions} partitions")
    // scheduling freedom does not damage the contract: offsets still
    // reconstruct each partition's total order
    val got = ds.collect()
    assert(got.length === 200)
    Seq(0, 1).foreach { p =>
      val offs = got.filter(_.partition == p).map(_.offset).sorted.toSeq
      assert(offs === (0L until 100L), s"partition $p offsets not dense")
    }
  }

  test("partitioned topic feeds the raw MV cascade unchanged (S1+S3+S9 over T7)") {
    val dir = tmp("topic_mv")
    val out = tmp("topic_mv_out")
    val cp = tmp("topic_mv_cp")
    val msgs = FlowGen.flows(spark, 80, seed = 25).collect().toSeq
    PartitionedTopic.producePayload(dir, 0, 0L, msgs.take(40))
    PartitionedTopic.producePayload(dir, 1, 0L, msgs.drop(40))
    // the decoded records drop straight into the existing MV cascade —
    // the coordinates are extra columns, not a different pipeline
    val q = graft.streaming.FlowStreams.startRawMVManaged(
      PartitionedTopic.readStream(spark, dir).select("msg.*"), out, cp)
    q.processAllAvailable(); q.stop()
    val written = graft.streaming.FlowStreams.readRawManaged(spark, out)
    assert(written.count() === 80)
    assert(written.agg(sum("bytes")).head().getLong(0) === msgs.map(_.bytes).sum)
  }

  test("lenient mode drops a poisoned payload whole, leaving a visible offset gap") {
    val dir = tmp("topic_poison")
    val msgs = FlowGen.flows(spark, 40, seed = 26).collect().toSeq
    PartitionedTopic.producePayload(dir, 0, 0L, msgs.take(20))
    val next = PartitionedTopic.producePayload(dir, 0, 20L, msgs.drop(20))
    // corrupt the SECOND payload's bytes in place (truncated frame)
    val bad = java.nio.file.Paths.get(dir, "partition=0", f"${20L}%020d.bin")
    java.nio.file.Files.write(bad,
      java.nio.file.Files.readAllBytes(bad).dropRight(3))
    // strict: the poisoned payload fails the read
    val e = intercept[org.apache.spark.SparkException](
      PartitionedTopic.read(spark, dir).count())
    assert(e.getMessage != null)
    // lenient: stream keeps flowing, poisoned payload dropped whole — the
    // surviving offsets are exactly payload 1's, so the gap is observable
    val kept = PartitionedTopic.read(spark, dir, lenient = true).collect()
    assert(kept.map(_.offset).sorted.toSeq === (0L until 20L))
    assert(next === 40L)
  }

  test("two consumer groups over one topic: independent offsets, each sees every record exactly once (r12)") {
    // the reference runs TWO independent groups on the `flows` topic —
    // the Go inserter (inserter.go:34) and the ClickHouse Kafka engine
    // (create.sh:32). In Kafka, group independence = separate committed
    // offsets; here each group's file-source checkpoint IS its offset
    // store, so two streams with separate checkpoints must (a) both see
    // every record exactly once, (b) commit progress independently — one
    // group down does not stall or skip the other — and (c) resume from
    // their OWN position, not the other group's.
    val dir = tmp("topic_groups")
    val cpA = tmp("topic_groups_cpA"); val outA = tmp("topic_groups_outA")
    val cpB = tmp("topic_groups_cpB"); val outB = tmp("topic_groups_outB")
    val msgs = FlowGen.flows(spark, 120, seed = 27).collect().toSeq
    var off0 = PartitionedTopic.producePayload(dir, 0, 0L, msgs.slice(0, 30))
    var off1 = PartitionedTopic.producePayload(dir, 1, 0L, msgs.slice(30, 60))

    def start(cp: String, out: String) = PartitionedTopic.readStream(spark, dir)
      .select(col("partition"), col("offset"), col("msg.bytes").as("bytes"))
      .writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", cp).start()

    // both groups consume the first produces CONCURRENTLY
    val qA1 = start(cpA, outA); val qB1 = start(cpB, outB)
    qA1.processAllAvailable(); qB1.processAllAvailable()
    // group B goes down (the reference's "one consumer restarts" case);
    // group A keeps consuming the next produces alone
    qB1.stop()
    off0 = PartitionedTopic.producePayload(dir, 0, off0, msgs.slice(60, 90))
    qA1.processAllAvailable(); qA1.stop()
    // group B comes back and catches up from ITS checkpoint — including a
    // produce that lands while A is down too
    off1 = PartitionedTopic.producePayload(dir, 1, off1, msgs.slice(90, 120))
    val qB2 = start(cpB, outB); qB2.processAllAvailable(); qB2.stop()
    // group A's final catch-up
    val qA2 = start(cpA, outA); qA2.processAllAvailable(); qA2.stop()

    // every group saw every (partition, offset) exactly once — no record
    // lost to the other group (groups are NOT a work-sharing pool) and no
    // record duplicated across its own restart
    val wantBytes = msgs.map(_.bytes).sum
    Seq("A" -> outA, "B" -> outB).foreach { case (g, out) =>
      val sunk = spark.read.parquet(out).collect()
      assert(sunk.length === 120, s"group $g: lost or duplicated records")
      Seq(0 -> off0, 1 -> off1).foreach { case (p, hi) =>
        val offs = sunk.filter(_.getInt(0) == p).map(_.getLong(1)).sorted.toSeq
        assert(offs === (0L until hi), s"group $g partition $p: offset set broken")
      }
      assert(sunk.map(_.getLong(2)).sum === wantBytes, s"group $g: payload bytes differ")
    }
    // and the offset stores really are independent: the checkpoints hold
    // different committed positions mid-history (B missed a batch window
    // A saw, so their source logs differ in length)
    def commits(cp: String): Long =
      java.nio.file.Files.list(java.nio.file.Paths.get(cp, "commits"))
        .filter(p => !p.getFileName.toString.startsWith(".")).count()
    assert(commits(cpA) > 0 && commits(cpB) > 0)
    assert(commits(cpA) != commits(cpB),
      "independent groups advanced through different batch histories")
  }

  test("streaming consumer: new payloads continue offsets exactly-once across restarts") {
    val dir = tmp("topic_stream")
    val cp = tmp("topic_stream_cp")
    val out = tmp("topic_stream_out")
    val msgs = FlowGen.flows(spark, 90, seed = 24).collect().toSeq
    var off0 = PartitionedTopic.producePayload(dir, 0, 0L, msgs.slice(0, 30))
    var off1 = PartitionedTopic.producePayload(dir, 1, 0L, msgs.slice(30, 50))

    def start() = PartitionedTopic.readStream(spark, dir)
      .select(col("partition"), col("offset"), col("msg.bytes").as("bytes"))
      .writeStream.format("parquet").option("path", out)
      .outputMode("append").option("checkpointLocation", cp).start()

    val q1 = start(); q1.processAllAvailable(); q1.stop()
    // produce while the consumer is down; restart resumes from the
    // checkpointed position — the file-source checkpoint IS the committed
    // offset store, so nothing is re-read and nothing is lost
    off0 = PartitionedTopic.producePayload(dir, 0, off0, msgs.slice(50, 70))
    off1 = PartitionedTopic.producePayload(dir, 1, off1, msgs.slice(70, 90))
    val q2 = start(); q2.processAllAvailable(); q2.stop()

    val sunk = spark.read.parquet(out).collect()
    assert(sunk.length === 90)
    Seq(0 -> off0, 1 -> off1).foreach { case (p, hi) =>
      val offs = sunk.filter(_.getInt(0) == p).map(_.getLong(1)).sorted.toSeq
      assert(offs === (0L until hi), s"partition $p: duplicate or lost offsets")
    }
    assert(sunk.map(_.getLong(2)).sum === msgs.map(_.bytes).sum)
  }
}
