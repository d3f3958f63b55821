package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.flow.{FlowGen, FlowMessage}
import graft.streaming.{FlowStreams, ManifestTable}

/** End-to-end MV cascade over a MemoryStream source: raw projection table,
  * partial-append rollup with read-time re-merge (SummingMergeTree
  * semantics), OPTIMIZE-style compaction, late-data folding, watermarked
  * variant, micro-flush sink.
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
    val q = FlowStreams.startRawMV(src.toDF(), out, cp)
    src.addData(genBatch(500, seed = 1, baseTime = 1704067200L))
    q.processAllAvailable()
    src.addData(genBatch(300, seed = 2, baseTime = 1704153600L)) // next day
    q.processAllAvailable()
    q.stop()
    val written = spark.read.parquet(out)
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
    val q = FlowStreams.startUniqueSrcMV(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readUniqueSrc(spark, out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.map(_._3).sum === 1800L, "flow_count side stays exact")
    // HLL union is register-wise max: ANY micro-batch split folds to the
    // SAME estimate as one sketch over the union
    val all = spark.createDataFrame(batches.flatten)
    val batchEst = FlowStreams.uniqueSrcPartials(all)
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
    val q = FlowStreams.startAnomalyMV(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readAnomalySeries(spark, out).collect()
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
    val alarms = FlowStreams.readAnomalyAlarms(spark, out).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(alarms === got.filter(_._5).map(t => (t._1, t._2)).toSet)
    // replay guard: rewriting a batch dir (checkpoint replay) cannot
    // double-count — the fold re-reads ONE copy per batch id
    val preCount = got.length
    val again = FlowStreams.readAnomalySeries(spark, out).collect().length
    assert(again === preCount)
    // the SAME partials serve the robust estimator: MAD read path equals
    // the batch median/MAD core over the unioned records, bit-for-bit
    val gotMad = FlowStreams.readAnomalyMadSeries(spark, out).collect()
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

  test("raw compaction: fewer files, identical data, time-sorted within files") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val q = FlowStreams.startRawMV(src.toDF(), out, cp)
    (1 to 4).foreach { i =>
      src.addData(genBatch(100, seed = 70 + i, baseTime = 1704067200L))
      q.processAllAvailable()
    }
    q.stop()
    def dataFiles() = Files.walk(java.nio.file.Paths.get(out)).iterator()
    def parquetFiles(): Long = {
      val it = dataFiles(); var n = 0L
      while (it.hasNext) { if (it.next().toString.endsWith(".parquet")) n += 1 }
      n
    }
    val before = spark.read.parquet(out)
    val beforeSum = before.agg(sum("bytes")).head().getLong(0)
    val filesBefore = parquetFiles()
    assert(filesBefore >= 4, s"expected one file per batch, got $filesBefore")
    FlowStreams.compactRaw(spark, out)
    assert(parquetFiles() < filesBefore)
    val after = spark.read.parquet(out)
    assert(after.count() === 400)
    assert(after.agg(sum("bytes")).head().getLong(0) === beforeSum)
  }

  test("rollup MV: partials append across batches, re-merge equals direct agg, optimize folds") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val q = FlowStreams.startRollupMV(src.toDF(), out, cp)
    val b1 = genBatch(400, seed = 3, baseTime = 1704067200L)
    // batch 2 overlaps the same 5-min slots (late/duplicate-key data, T4)
    val b2 = genBatch(400, seed = 4, baseTime = 1704067200L)
    src.addData(b1); q.processAllAvailable()
    src.addData(b2); q.processAllAvailable()
    q.stop()

    // unmerged parts: equal keys appear once per batch (partial rows)
    val partsCount = spark.read.parquet(out).count()
    val merged = FlowStreams.readRollup(spark, out)
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
    FlowStreams.optimizeRollup(spark, out)
    val afterOpt = spark.read.parquet(out)
    assert(afterOpt.count() === mergedCount)
    val reread = FlowStreams.readRollup(spark, out)
      .select("timeslot", "srcAS", "dstAS", "sum_bytes", "flow_count")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getLong(4))).toSet
    assert(reread === direct)
    // and the merged maps survive compaction byte-for-byte
    val rereadFull = FlowStreams.readRollup(spark, out)
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
    val q = FlowStreams.startRollupMV(src.toDF(), out, cp)
    val b1 = genBatch(300, seed = 11, baseTime = 1704067200L)
    val b2 = genBatch(300, seed = 12, baseTime = 1704067200L) // overlapping slots
    src.addData(b1); q.processAllAvailable()
    src.addData(b2); q.processAllAvailable()
    q.stop()
    val got = FlowStreams.readTrafficMatrix(spark, out).collect()
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
    FlowStreams.optimizeRollup(spark, out)
    val after = FlowStreams.readTrafficMatrix(spark, out).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(after.toSeq === got.toSeq)
  }

  test("rollup MV: a replayed micro-batch does not double-count (per-batch overwrite)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val q = FlowStreams.startRollupMV(src.toDF(), out, cp)
    val b1 = genBatch(300, seed = 31, baseTime = 1704067200L)
    src.addData(b1); q.processAllAvailable(); q.stop()
    val once = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    // simulate the crash-after-write replay: re-run the same batch id's
    // write by hand (what a restarted checkpoint does). Blind append
    // doubled every total here before the per-batch overwrite layout.
    FlowStreams.rollupPartials(b1.toDS().toDF()).write
      .mode("overwrite").partitionBy("event_date").parquet(s"$out/batch=0")
    val replayed = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(replayed === once, "replay must be idempotent, not additive")
    assert(once.getLong(1) === 300L)
  }

  test("rollup MV: checkpoint replay of a FOLDED batch is a no-op (r8 review)") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp()
    val b1 = genBatch(200, seed = 71, baseTime = 1704067200L)
    // the stream wrote batch 0 but crashed before the checkpoint commit
    FlowStreams.rollupPartials(b1.toDS().toDF()).write
      .mode("overwrite").partitionBy("event_date").parquet(s"$out/batch=0")
    val want = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    // operator folds while the stream is down (contract-compliant)
    FlowStreams.optimizeRollup(spark, out)
    // the restarted stream REPLAYS batch 0 with the same rows — its dir
    // was absorbed into batch=-1, so the old overwrite-idempotency can't
    // help; the max-folded marker must make the replay a no-op
    val src = MemoryStream[FlowMessage]
    val q = FlowStreams.startRollupMV(src.toDF(), out, tmp())
    src.addData(b1); q.processAllAvailable()
    val replayed = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(replayed === want, "replay of a folded batch must not double-count")
    // a genuinely NEW batch (id 1) still lands
    val b2 = genBatch(100, seed = 72, baseTime = 1704067200L + 86400L)
    src.addData(b2); q.processAllAvailable(); q.stop()
    val after = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(after.getLong(0) === want.getLong(0) + b2.map(_.bytes).sum)
    assert(after.getLong(1) === want.getLong(1) + 100L)
  }

  test("rollup MV: MIXED legacy + batch layout reads and optimizes (r7 advisory)") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp()
    val b1 = genBatch(200, seed = 61, baseTime = 1704067200L)
    val b2 = genBatch(200, seed = 62, baseTime = 1704067200L)
    // legacy table: partials written straight under event_date= (pre-batch
    // layout), then the stream restarts on the per-batch writer and appends
    // a batch=0 dir — the mixed state the advisory flagged
    FlowStreams.rollupPartials(b1.toDS().toDF()).write
      .mode("append").partitionBy("event_date").parquet(out)
    FlowStreams.rollupPartials(b2.toDS().toDF()).write
      .mode("overwrite").partitionBy("event_date").parquet(s"$out/batch=0")
    val direct = FlowStreams.rollupPartials((b1 ++ b2).toDS().toDF().coalesce(1))
    val merged = FlowStreams.readRollup(spark, out)
    assert(merged.except(direct).isEmpty && direct.except(merged).isEmpty)
    // optimize repairs the mix into the uniform batch=-1 layout
    FlowStreams.optimizeRollup(spark, out)
    val children = Files.list(java.nio.file.Paths.get(out)).iterator()
    val names = { import scala.jdk.CollectionConverters._
      children.asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("batch=") || n.startsWith("event_date=")).toList }
    assert(names === List("batch=-1"), s"expected only batch=-1, got $names")
    val reread = FlowStreams.readRollup(spark, out)
    assert(reread.except(direct).isEmpty && direct.except(reread).isEmpty)
  }

  test("optimizeRollup: crash between fold and swap auto-recovers, no loss (r7 advisory)") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp()
    val b1 = genBatch(150, seed = 63, baseTime = 1704067200L)
    FlowStreams.rollupPartials(b1.toDS().toDF()).write
      .mode("overwrite").partitionBy("event_date").parquet(s"$out/batch=0")
    val want = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    val root = java.nio.file.Paths.get(out)
    // simulate a run that crashed AFTER the durable fold + marker but
    // BEFORE deleting inputs/publishing: stage the fold by hand
    val staging = root.resolve(".optimize-staging")
    FlowStreams.readRollup(spark, out).write
      .mode("overwrite").partitionBy("event_date").parquet(staging.toString)
    Files.write(staging.resolve(".folded-inputs"), "batch=0".getBytes("UTF-8"))
    // next call completes the crashed run, then has nothing further to fold
    FlowStreams.optimizeRollup(spark, out)
    assert(!Files.exists(staging), "staging must be consumed")
    assert(Files.isDirectory(root.resolve("batch=-1")))
    val got = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(got === want, "recovered table must carry the same totals")
    // a crashed PARTIAL fold (no marker) is discarded, table untouched
    Files.createDirectories(staging)
    Files.write(staging.resolve("junk.parquet"), Array[Byte](1, 2, 3))
    FlowStreams.optimizeRollup(spark, out)
    assert(!Files.exists(staging))
    val got2 = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(got2 === want)
  }

  test("recoverOptimize: guard armed BEFORE publish — the crash window cannot double-count (r9 advisory)") {
    implicit val sqlCtx = spark.sqlContext
    val out = tmp()
    val b1 = genBatch(150, seed = 91, baseTime = 1704067200L)
    FlowStreams.rollupPartials(b1.toDS().toDF()).write
      .mode("overwrite").partitionBy("event_date").parquet(s"$out/batch=0")
    val want = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    val root = java.nio.file.Paths.get(out)
    // crash image of recoverOptimize's only remaining intermediate state
    // under the r9 ordering: guard ARMED, input dirs not yet deleted,
    // staged fold + marker still on disk. (The pre-r9 ordering's image —
    // fold published, guard unarmed — let a restarted stream double-count
    // the absorbed batch permanently.)
    val staging = root.resolve(".optimize-staging")
    FlowStreams.readRollup(spark, out).write
      .mode("overwrite").partitionBy("event_date").parquet(staging.toString)
    Files.write(staging.resolve(".folded-inputs"), "batch=0".getBytes("UTF-8"))
    Files.write(root.resolve("_graft_max_folded_batch"), "0".getBytes("UTF-8"))
    // a restarted stream replays batch 0 BEFORE any recovery runs: the
    // armed guard makes the replay a no-op; batch=0 itself is untouched
    val src = MemoryStream[FlowMessage]
    val q = FlowStreams.startRollupMV(src.toDF(), out, tmp())
    src.addData(b1); q.processAllAvailable(); q.stop()
    val midTotals = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(midTotals === want, "replay during the crash window must be a no-op")
    // recovery then completes the publish idempotently
    FlowStreams.optimizeRollup(spark, out)
    assert(!Files.exists(staging), "staging must be consumed")
    assert(Files.isDirectory(root.resolve("batch=-1")))
    val got = FlowStreams.readRollup(spark, out)
      .agg(sum("sum_bytes"), sum("flow_count")).head()
    assert(got === want, "completed fold must carry the same totals exactly once")
    // the guard survives recovery with the absorbed batch still covered
    val guard = new String(Files.readAllBytes(
      root.resolve("_graft_max_folded_batch")), "UTF-8").trim
    assert(guard.toLong >= 0L)
  }

  test("wire bytes -> decode -> raw + rollup MVs reconcile; absent addr renders 0.0.0.0") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[Array[Byte]]
    val flows = graft.sources.ProtoCodec
      .fromWire(src.toDF().withColumnRenamed("value", "payload"), "payload").toDF()
    val outRaw = tmp(); val cpRaw = tmp(); val outRoll = tmp(); val cpRoll = tmp()
    val q1 = FlowStreams.startRawMV(flows, outRaw, cpRaw)
    val q2 = FlowStreams.startRollupMV(flows, outRoll, cpRoll)
    val msgs0 = genBatch(200, seed = 21, baseTime = 1704067200L)
    // 20 records with an absent source address — the Go consumer sees a nil
    // slice there (inserter.go:135-140)
    val msgs = msgs0.take(20).map(_.copy(srcAddr = null)) ++ msgs0.drop(20)
    // several framed records per Kafka-style payload (README.md:104)
    val payloads = msgs.grouped(3).map(_.flatMap(graft.sources.ProtoCodec.encodeDelimited).toArray).toSeq
    src.addData(payloads)
    q1.processAllAvailable(); q2.processAllAvailable()
    q1.stop(); q2.stop()

    val raw = spark.read.parquet(outRaw)
    assert(raw.count() === 200)
    assert(raw.agg(sum("bytes")).head().getLong(0) === msgs.map(_.bytes).sum)
    // rollup MV totals reconcile with the same wire input
    val merged = FlowStreams.readRollup(spark, outRoll)
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
