package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.flow.{FlowGen, FlowMessage}
import graft.streaming.{FlowStreams, ManifestTable}

/** End-to-end MV cascade over a MemoryStream source: managed raw table,
  * partial-append rollup with read-time re-merge (SummingMergeTree
  * semantics), online OPTIMIZE, late-data folding, watermarked variant,
  * micro-flush sink. Every MV's shared append/fold/replay contract is
  * table-driven in MergeableMVSpec.
  */
class FlowStreamsSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String = Files.createTempDirectory("graft_stream").toString

  private def genBatch(n: Long, seed: Long, baseTime: Long): Seq[FlowMessage] =
    FlowGen.flows(spark, n, seed, baseTime).collect().toSeq

  test("raw MV: projection + date partitioning, exactly-once append") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val q = FlowStreams.startRawMVManaged(src.toDF(), out, cp)
    src.addData(genBatch(500, seed = 1, baseTime = 1704067200L))
    q.processAllAvailable()
    src.addData(genBatch(300, seed = 2, baseTime = 1704153600L)) // next day
    q.processAllAvailable()
    q.stop()
    val written = FlowStreams.readRawManaged(spark, out)
    assert(written.count() === 800)
    assert(written.select("event_date").distinct().count() === 2)
    // partition pruning works: date filter reads one partition
    val oneDay = written.filter(col("event_date") === "2024-01-02")
    assert(oneDay.count() === 300)
  }

  test("unique-sources HLL MV: cross-batch union equals the batch sketch; estimate tracks exact (r12)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val batches = (0 until 3).map(b =>
      genBatch(600, seed = 80 + b, baseTime = 1704067200L + b * 1200))
    val q = FlowStreams.UniqueSrc.start(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readUniqueSrcManaged(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.map(_._3).sum === 1800L, "flow_count side stays exact")
    // HLL union is register-wise max: ANY micro-batch split folds to the
    // SAME estimate as one sketch over the union
    val all = spark.createDataFrame(batches.flatten)
    val batchEst = FlowStreams.UniqueSrc.partials(all)
      .select(col("bucket"), hll_sketch_estimate(col("hll_sketch")).as("est"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got.map(_._1).toSet === batchEst.keySet)
    got.foreach { case (bucket, est, _) =>
      assert(est === batchEst(bucket), s"bucket $bucket: MV fold diverged from batch sketch")
    }
    // ... and within HLL's error envelope of the exact distinct count
    val exact = all
      .groupBy(((col("timeReceived") / 3600).cast("long") * 3600).as("bucket"))
      .agg(countDistinct(graft.GraftFunctions.reinterpret_uint32(col("srcAddr"))).as("ex"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    got.foreach { case (bucket, est, _) =>
      val ex = exact(bucket).toDouble
      assert(math.abs(est - ex) / ex <= 0.05,
        s"bucket $bucket: estimate $est vs exact $ex beyond 5%")
    }
  }

  test("anomaly MV: cross-batch fold equals the batch z-score; alarm cut is the flagged set (r13)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val batches = (0 until 3).map(b =>
      genBatch(500, seed = 300 + b, baseTime = 1704067200L + b * 600))
    val q = FlowStreams.Anomaly.start(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readAnomalySeriesManaged(spark, out).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got.nonEmpty)
    // batch reference: the SAME scoring core over the union of all records
    // — integer partials must fold exactly under any micro-batch split
    val all = spark.createDataFrame(batches.flatten)
    val want = graft.flow.FlowQueries.zscoreOverMinutes(
        all.groupBy(col("proto"),
            ((col("timeReceived") / 60).cast("long") * 60).as("minute"))
          .agg(sum(col("bytes") * col("samplingRate")).as("sampled_bytes")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(got.toSeq === want.toSeq, "MV fold + shared core must equal batch semantics")
    // the alarm cut is exactly the flagged subset
    val alarms = FlowStreams.readAnomalyAlarmsManaged(spark, out).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(alarms === got.filter(_._5).map(t => (t._1, t._2)).toSet)
    // replay guard: a checkpoint replay of the last batch id cannot
    // double-count — the manifest holds ONE copy per batch id
    val preCount = got.length
    FlowStreams.Anomaly.append(spark.createDataFrame(batches.last), out, 2L)
    val again = FlowStreams.readAnomalySeriesManaged(spark, out).collect().length
    assert(again === preCount)
    // the SAME partials serve the robust estimator: MAD read path equals
    // the batch median/MAD core over the unioned records, bit-for-bit
    val gotMad = FlowStreams.readAnomalyMadSeriesManaged(spark, out).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getBoolean(6)))
    val wantMad = graft.flow.FlowQueries.madOverMinutes(
        all.groupBy(col("proto"),
            ((col("timeReceived") / 60).cast("long") * 60).as("minute"))
          .agg(sum(col("bytes") * col("samplingRate")).as("sampled_bytes")))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getBoolean(6)))
    assert(gotMad.toSeq === wantMad.toSeq,
      "one MV, two estimators: the MAD fold must equal batch semantics too")
  }

  test("rollup MV: partials append across batches, re-merge equals direct agg, optimize folds") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val q = FlowStreams.startRollupMVManaged(src.toDF(), out, cp)
    val b1 = genBatch(400, seed = 3, baseTime = 1704067200L)
    // batch 2 overlaps the same 5-min slots (late/duplicate-key data, T4)
    val b2 = genBatch(400, seed = 4, baseTime = 1704067200L)
    src.addData(b1); q.processAllAvailable()
    src.addData(b2); q.processAllAvailable()
    q.stop()

    // unmerged parts: equal keys appear once per batch (partial rows)
    val partsCount = ManifestTable.read(spark, out).count()
    val merged = FlowStreams.readRollupManaged(spark, out)
    val mergedCount = merged.count()
    assert(partsCount > mergedCount, "expected unmerged partial rows")

    // read-time re-merge equals a direct batch aggregation over all input
    val all = (b1 ++ b2).toDS().toDF()
    val direct = FlowStreams.rollupPartials(all.coalesce(1))
      .select("timeslot", "srcAS", "dstAS", "sum_bytes", "flow_count")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    val viaStream = merged
      .select("timeslot", "srcAS", "dstAS", "sum_bytes", "flow_count")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(direct === viaStream)

    // ETypeMap (create.sh:78-86): cross-batch element-wise merge by etype
    // equals the single-batch aggregation, including the nested arrays
    val directFull = FlowStreams.rollupPartials(all.coalesce(1))
    assert(merged.except(directFull).isEmpty && directFull.except(merged).isEmpty)

    // OPTIMIZE: folds to one row per key; reads unchanged
    assert(FlowStreams.optimizeRollupOnline(spark, out))
    val afterOpt = ManifestTable.read(spark, out)
    assert(afterOpt.count() === mergedCount)
    val reread = FlowStreams.readRollupManaged(spark, out)
      .select("timeslot", "srcAS", "dstAS", "sum_bytes", "flow_count")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(reread === direct)
    // and the merged maps survive compaction byte-for-byte
    val rereadFull = FlowStreams.readRollupManaged(spark, out)
    assert(rereadFull.except(directFull).isEmpty && directFull.except(rereadFull).isEmpty)
  }

  /** The grouped two-level aggregate `rollupPartials` folds per partition:
    * a global group-by over (key, etype), then re-collected per key. */
  private def groupedRollup(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    FlowStreams.projectRaw(df)
      .groupBy(col("event_date"),
        ((col("timeReceived") / 300).cast("long") * 300).as("timeslot"),
        col("srcAS"), col("dstAS"), col("etype"))
      .agg(sum("bytes").as("b"), sum("packets").as("p"), count(lit(1)).as("c"))
      .groupBy("event_date", "timeslot", "srcAS", "dstAS")
      .agg(
        sort_array(collect_list(struct(col("etype"),
          col("b").as("bytes"), col("p").as("packets"), col("c").as("flow_count"))))
          .as("etype_map"),
        sum("b").as("sum_bytes"), sum("p").as("sum_packets"), sum("c").as("flow_count"))

  /** 4 partitions, no exchange below; two etypes, and with `nulls` some
    * null keys, etypes, bytes and packets. */
  private def rollupInput(nulls: Boolean): org.apache.spark.sql.DataFrame = {
    val msgs = genBatch(3000, seed = 17, baseTime = 1704067200L).zipWithIndex.map {
      case (m, i) => if (i % 3 == 0) m.copy(etype = 0x0800) else m }
    val df = spark.sparkContext.parallelize(msgs, 4).toDF()
    if (!nulls) df
    else df
      .withColumn("srcAS", when(col("sequenceNum") % 11 === 0, lit(null)).otherwise(col("srcAS")))
      .withColumn("etype", when(col("sequenceNum") % 13 === 0, lit(null)).otherwise(col("etype")))
      .withColumn("bytes", when(col("sequenceNum") % 5 === 0, lit(null)).otherwise(col("bytes")))
      .withColumn("packets", when(col("srcPort") % 2 === 0, lit(null)).otherwise(col("packets")))
  }

  test("rollupPartials folds each partition in place: no exchange, one stage of 4 tasks, grouped schema") {
    object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    def exchanges(df: org.apache.spark.sql.DataFrame) = {
      df.collect()
      Aqe.collect(df.queryExecution.executedPlan) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
    }
    for (nulls <- Seq(false, true)) {
      val in = rollupInput(nulls)
      val parts = FlowStreams.rollupPartials(in)
      assert(exchanges(parts).isEmpty, "the per-block fold must not shuffle")
      assert(exchanges(groupedRollup(in)).nonEmpty, "the check must see a grouped aggregate's shuffle")
      assert(parts.queryExecution.toRdd.getNumPartitions === 4)
      // names, types and nullability, nested etype_map included
      assert(parts.schema === groupedRollup(in).schema)
    }
  }

  test("rollupPartials: merged partials equal the grouped aggregate, nested etype_map and nulls included") {
    for (nulls <- Seq(false, true)) {
      val in = rollupInput(nulls)
      val want = groupedRollup(in)
      val parts = FlowStreams.rollupPartials(in)
      // equal keys from different blocks are separate partials
      assert(parts.count() > want.count())
      val merged = FlowStreams.mergeRollup(parts)
      assert(merged.count() === want.count())
      assert(merged.except(want).isEmpty && want.except(merged).isEmpty)
      // one block is the whole aggregate, row for row, in key order
      val oneBlock = FlowStreams.rollupPartials(in.coalesce(1)).collect().toSeq
      val keys = Seq("event_date", "timeslot", "srcAS", "dstAS").map(col)
      assert(oneBlock === want.orderBy(keys: _*).collect().toSeq)
      if (nulls) {
        assert(oneBlock.exists(_.isNullAt(2)), "a null srcAS key survives")
        assert(oneBlock.exists(r => r.getSeq[org.apache.spark.sql.Row](4).exists(_.isNullAt(0))),
          "a null etype entry survives")
      }
    }
  }

  test("rollupPartials: each written file holds one row per key (the one-file-partition invariant)") {
    val table = tmp()
    val in = rollupInput(nulls = false)
    ManifestTable.append(FlowStreams.rollupPartials(in), table,
      Some("event_date"), 0L, statsCol = Some("timeslot"))
    val files = ManifestTable.snapshot(table)._2
    val byDir = files.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    assert(byDir.values.exists(_.size > 1), "expected several blocks' files in one partition")
    val keys = Seq("timeslot", "srcAS", "dstAS")
    files.foreach { f =>
      val rows = spark.read.parquet(s"$table/$f")
      assert(rows.count() === rows.select(keys.map(col): _*).distinct().count(),
        s"$f holds a key twice")
    }
    // folding the multi-file partitions then leaves one row per key overall
    assert(FlowStreams.optimizeRollupOnline(spark, table))
    val want = groupedRollup(in)
    val folded = ManifestTable.read(spark, table)
    assert(folded.count() === want.count())
    assert(FlowStreams.readRollupManaged(spark, table).except(want).isEmpty)
  }

  test("traffic matrix from the rollup MV: equals the batch matrix over the union; shares sum to 1 (r13)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val q = FlowStreams.startRollupMVManaged(src.toDF(), out, cp)
    val b1 = genBatch(300, seed = 11, baseTime = 1704067200L)
    val b2 = genBatch(300, seed = 12, baseTime = 1704067200L) // overlapping slots
    src.addData(b1); q.processAllAvailable()
    src.addData(b2); q.processAllAvailable()
    q.stop()
    val got = FlowStreams.readTrafficMatrixManaged(spark, out).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(got.nonEmpty)
    // the MV answer equals a direct batch aggregation over all input
    val all = (b1 ++ b2)
    val want = all.groupBy(m => (m.srcAS, m.dstAS)).map { case (k, xs) =>
      (k._1, k._2, xs.size.toLong, xs.map(_.bytes).sum)
    }
    assert(got.map(g => (g._1, g._2, g._3, g._4)).toSet === want.toSet)
    assert(got.map(_._3).sum === all.size.toLong, "flow counts conserve")
    assert(math.abs(got.map(_._5).sum - 1.0) < 1e-4, "shares sum to ~1")
    // fold-insensitive: OPTIMIZE then re-read — identical matrix
    assert(FlowStreams.optimizeRollupOnline(spark, out))
    val after = FlowStreams.readTrafficMatrixManaged(spark, out).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(after.toSeq === got.toSeq)
  }

  test("wire bytes -> decode -> raw + rollup MVs reconcile; absent addr renders 0.0.0.0") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Array[Byte]]
    val flows = graft.sources.ProtoCodec
      .fromWire(src.toDF().withColumnRenamed("value", "payload"), "payload").toDF()
    val outRaw = tmp(); val cpRaw = tmp(); val outRoll = tmp(); val cpRoll = tmp()
    val q1 = FlowStreams.startRawMVManaged(flows, outRaw, cpRaw)
    val q2 = FlowStreams.startRollupMVManaged(flows, outRoll, cpRoll)
    val msgs0 = genBatch(200, seed = 21, baseTime = 1704067200L)
    // 20 records with an absent source address — the Go consumer sees a nil
    // slice there (inserter.go:135-140)
    val msgs = msgs0.take(20).map(_.copy(srcAddr = null)) ++ msgs0.drop(20)
    // several framed records per Kafka-style payload (README.md:104)
    val payloads = msgs.grouped(3).map(_.flatMap(graft.sources.ProtoCodec.encodeDelimited).toArray).toSeq
    src.addData(payloads)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    val raw = FlowStreams.readRawManaged(spark, outRaw)
    assert(raw.count() === 200)
    assert(raw.agg(sum("bytes")).head().getLong(0) === msgs.map(_.bytes).sum)
    // rollup MV totals reconcile with the same wire input
    val merged = FlowStreams.readRollupManaged(spark, outRoll)
    assert(merged.agg(sum("sum_bytes")).head().getLong(0) === msgs.map(_.bytes).sum)
    assert(merged.agg(sum("flow_count")).head().getLong(0) === 200L)
    // inserter.go:135-140 parity: absent address -> '0.0.0.0'
    val rendered = FlowStreams.jdbcFlushProjection(raw)
    assert(rendered.filter(col("src_ip") === "0.0.0.0").count() === 20)
    assert(rendered.filter(col("dst_ip") === "0.0.0.0").count() === 0)
  }

  test("metrics endpoint: /metrics serves insert_count in Prometheus text format (S12)") {
    implicit val sqlCtx = spark.sqlContext
    val (collector, server) = graft.streaming.FlowMetrics.start(spark)
    try {
      val src = MemoryStream[FlowMessage]
      val cp = tmp()
      // insert_count is fed at the sink (inserter.go parity); the
      // listener tracks batch/start counters. The writer must actually
      // consume the batch (the accumulator rides the sink action) — the
      // noop format is the "real write, discard bytes" sink
      val q = FlowStreams.startMicroFlushSink(src.toDF(), cp,
        collector.countingWriter(_.write.format("noop").mode("overwrite").save()))
      src.addData(genBatch(150, seed = 51, baseTime = 1704067200L))
      q.processAllAvailable()
      src.addData(genBatch(80, seed = 52, baseTime = 1704067300L))
      q.processAllAvailable()
      q.stop()
      assert(collector.insertCount.get === 230)
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 20000
      while (collector.batchCount.get < 1 && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(collector.batchCount.get >= 1)
      val port = server.getAddress.getPort
      val body = scala.io.Source.fromURL(s"http://localhost:$port/metrics").mkString
      assert(body.contains("# TYPE graft_insert_count counter"))
      assert("graft_insert_count (\\d+)".r.findFirstMatchIn(body)
        .exists(_.group(1).toLong === 230))
    } finally graft.streaming.FlowMetrics.stop(spark, collector, server)
  }

  test("exactly-once JDBC sink: batch replay leaves no duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val cp = tmp()
    val url = s"jdbc:derby:${tmp()}/xodb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val q = FlowStreams.startJdbcSinkExactlyOnce(src.toDF(), cp, url, "flows_xo", props)
    val b1 = genBatch(90, seed = 61, baseTime = 1704067200L)
    src.addData(b1); q.processAllAvailable()
    src.addData(genBatch(60, seed = 62, baseTime = 1704070800L)); q.processAllAvailable()
    q.stop()
    assert(spark.read.jdbc(url, "flows_xo", props).count() === 150)
    // simulate a micro-batch REPLAY (crash between write and checkpoint
    // commit): re-flushing batch 0's data with the same id must not
    // duplicate anything
    FlowStreams.idempotentJdbcFlush(b1.toDS().toDF(), 0L, url, "flows_xo", props)
    val after = spark.read.jdbc(url, "flows_xo", props)
    assert(after.count() === 150)
    assert(after.filter(col("batch_id") === 0L).count() === 90)
  }

  test("real JDBC micro-flush into embedded Derby (S6, inserter.go:90-111 parity)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val cp = tmp()
    val url = s"jdbc:derby:${tmp()}/flowdb;create=true"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val q = FlowStreams.startJdbcSink(src.toDF(), cp, url, "flows", props)
    src.addData(genBatch(120, seed = 22, baseTime = 1704067200L))
    q.processAllAvailable()
    src.addData(genBatch(80, seed = 23, baseTime = 1704070800L))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.jdbc(url, "flows", props)
    assert(back.count() === 200)
    assert(back.columns.length === 14) // the inserter's 14-column tuple
    assert(back.agg(sum("bytes")).head().getLong(0) ===
      (genBatch(120, 22, 1704067200L) ++ genBatch(80, 23, 1704070800L)).map(_.bytes).sum)
  }

  test("watermarked rollup: update-mode incremental aggregation") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val agg = FlowStreams.watermarkedRollup(src.toDF())
    val q = agg.writeStream.outputMode("update")
      .format("memory").queryName("wm_rollup").start()
    src.addData(genBatch(200, seed = 5, baseTime = 1704067200L))
    q.processAllAvailable()
    val n1 = spark.table("wm_rollup").count()
    src.addData(genBatch(200, seed = 6, baseTime = 1704067500L))
    q.processAllAvailable()
    q.stop()
    val out = spark.table("wm_rollup")
    assert(n1 > 0 && out.count() > n1)
    assert(out.select("window").distinct().count() >= 2)
  }

  test("watermarked rollup with ETypeMap: finalized rows equal batch rollup, late data folded") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val typed = FlowStreams.watermarkedRollupTyped(src.toDF(), lateness = "10 minutes")
    val q = typed.toDF().writeStream.outputMode("append")
      .format("memory").queryName("wm_typed").start()
    // two etypes in play so the Nested map has real per-etype structure
    def withEtypes(msgs: Seq[FlowMessage]): Seq[FlowMessage] =
      msgs.zipWithIndex.map { case (m, i) =>
        if (i % 3 == 0) m.copy(etype = 0x0800) else m }
    val b1 = withEtypes(genBatch(300, seed = 81, baseTime = 1704067200L))
    // batch 2 lands in the SAME slots after batch 1 (late, inside lateness)
    val b2 = withEtypes(genBatch(200, seed = 82, baseTime = 1704067200L))
    src.addData(b1); q.processAllAvailable()
    src.addData(b2); q.processAllAvailable()
    // sentinel far in the future: advances the watermark past every real
    // window's end + lateness, firing the event-time timeouts
    src.addData(genBatch(1, seed = 83, baseTime = 1704067200L + 86400L))
    q.processAllAvailable()
    q.stop()

    import spark.implicits._
    val emitted = spark.table("wm_typed")
    val direct = FlowStreams.rollupPartials((b1 ++ b2).toDS().toDF().coalesce(1))
    // every real window finalized exactly once, bit-identical to the batch
    // two-level aggregation (the sentinel's own window never finalizes)
    assert(emitted.count() === direct.count())
    assert(emitted.except(direct).isEmpty && direct.except(emitted).isEmpty)
    // the map genuinely has two etypes in it
    assert(emitted.filter(size(col("etype_map")) === 2).count() > 0)
  }

  test("micro-flush sink: every batch delivered exactly once to the writer") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val cp = tmp()
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    val q = FlowStreams.startMicroFlushSink(src.toDF(), cp,
      batch => seen.addAndGet(batch.count()))
    src.addData(genBatch(123, seed = 7, baseTime = 1704067200L))
    q.processAllAvailable()
    src.addData(genBatch(77, seed = 8, baseTime = 1704067200L))
    q.processAllAvailable()
    q.stop()
    assert(seen.get() === 200)
  }

  test("stream-stream stitching: cross-batch twins join on the canonical 5-tuple; out-of-lag legs never emit (r12)") {
    implicit val sqlCtx = spark.sqlContext
    def addr(last: Int): Array[Byte] = {
      val b = new Array[Byte](16); b(15) = last.toByte; b
    }
    def msg(src: Array[Byte], dst: Array[Byte], sp: Int, dp: Int, t: Long,
        nBytes: Long): FlowMessage =
      FlowMessage(0, t, 0L, 1L, addr(9), t, t, nBytes, 1L, src, dst,
        2048, 6, sp, dp, 65000, 65001)
    val t0 = 1704067200L
    val a = addr(1); val b = addr(2); val c = addr(3); val d = addr(4)
    val src = MemoryStream[FlowMessage]
    val q = FlowStreams.stitchBidirectional(src.toDF(), maxLagSec = 60)
      .writeStream.format("memory").queryName("stitch_out")
      .outputMode("append")
      .option("checkpointLocation", tmp())
      .start()
    // batch 1: forward legs A->B and C->D
    src.addData(msg(a, b, 1000, 80, t0, 100L), msg(c, d, 2000, 443, t0, 300L))
    q.processAllAvailable()
    // batch 2: B->A reverse inside the lag (stitches), D->C reverse 300s
    // late (outside the lag — must never emit)
    src.addData(msg(b, a, 80, 1000, t0 + 30, 200L),
      msg(d, c, 443, 2000, t0 + 300, 400L))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("stitch_out")
      .select(col("pa"), col("pb"), col("proto"), col("fwd_bytes"), col("rev_bytes"),
        expr("unix_timestamp(fwd_ts)").as("ft"), expr("unix_timestamp(rev_ts)").as("rt"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6)))
    assert(rows.toSeq === Seq((1000, 80, 6, 100L, 200L, t0, t0 + 30)),
      s"expected exactly the in-lag stitch, got ${rows.toSeq}")
  }
}
