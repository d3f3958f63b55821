package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.flow.{FlowGen, FlowMessage}
import graft.streaming.{FlowPipeline, FlowStreams, ManifestTable}

/** The combined-sink pipeline (r14 verdict #5): one decoded topic feeding
  * raw MV + rollup MV + IVF append + LSH append in one query, the
  * stateful dedup leg concurrent — plus the crash/restart matrix over the
  * combined checkpoint set: a crash between ANY two of the four commits
  * re-delivers the micro-batch and only the missing commits land. */
class FlowPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_pipe").toString

  private def genBatch(n: Long, seed: Long, baseTime: Long): Seq[FlowMessage] =
    FlowGen.flows(spark, n, seed, baseTime).collect().toSeq

  private def seedIvf(idx: String): Unit =
    graft.operators.Similarity.buildIvfIndex(
      FlowPipeline.deriveVecs(
          FlowGen.flows(spark, 500L, seed = 99L).toDF(), every = 10L)
        .withColumn("vec_id", -col("vec_id") - 1L),
      idx, nCentroids = 4, kmeansIters = 1)

  private def sinkCounts(raw: String, roll: String, ivf: String,
      lsh: String): (Long, Long, Long, Long) = (
    FlowStreams.readRawManaged(spark, raw).count(),
    ManifestTable.read(spark, roll).agg(sum("flow_count")).head().getLong(0),
    ManifestTable.read(spark, s"$ivf/cells").filter(col("vec_id") >= 0).count(),
    ManifestTable.read(spark, s"$lsh/buckets").count())

  test("combined pipeline: one decode feeds four sinks; dedup leg concurrent; all sinks reconcile (r15)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val srcB = MemoryStream[FlowMessage]
    val srcC = MemoryStream[FlowMessage]
    val raw = tmp(); val roll = tmp(); val ivf = tmp(); val lsh = tmp(); val ded = tmp()
    val qual = tmp()
    seedIvf(ivf)
    // quality model trains on a DISJOINT offline slice, filters the stream
    val model = graft.operators.TextOps.trainQualityModelOn(
      FlowPipeline.deriveDocs(
        FlowGen.flows(spark, 500L, seed = 99L).toDF(), every = 5L))
    val qA = FlowPipeline.start(src.toDF(), raw, roll, ivf, lsh, tmp(), vecEvery = 10L)
    val qB = FlowPipeline.startDedupLeg(srcB.toDF(), ded, tmp(), docEvery = 5L)
    val qC = FlowPipeline.startQualityLeg(srcC.toDF(), model, qual, tmp(), docEvery = 5L)
    val b1 = genBatch(300, seed = 1, baseTime = 1704067200L)
    val b2 = genBatch(300, seed = 2, baseTime = 1704070200L)
    src.addData(b1); srcB.addData(b1); srcC.addData(b1)
    qA.processAllAvailable(); qB.processAllAvailable(); qC.processAllAvailable()
    src.addData(b2); srcB.addData(b2); srcC.addData(b2)
    qA.processAllAvailable(); qB.processAllAvailable(); qC.processAllAvailable()
    qA.stop(); qB.stop(); qC.stop()
    val all = (b1 ++ b2).toDS().toDF()
    val wantVecs = FlowPipeline.deriveVecs(all, 10L).count()
    val (r, f, iv, ls) = sinkCounts(raw, roll, ivf, lsh)
    assert(r === 600L && f === 600L, "raw/rollup conserve the stream")
    assert(iv === wantVecs && ls === wantVecs, "both indexes hold every derived vector")
    // dedup leg: every distinct text survives exactly once (all event
    // times sit inside the watermark, so each repeat drops in-flight)
    val docs = FlowPipeline.deriveDocs(all, 5L)
    val wantDocs = docs.count()
    val wantDistinct = docs.agg(countDistinct(col("text"))).head().getLong(0)
    val out = ManifestTable.read(spark, ded)
    assert(out.count() === wantDistinct,
      "within-watermark repeats must drop in-flight")
    assert(out.select("text_md5").distinct().count() === wantDistinct)
    assert(wantDocs > wantDistinct, "the corpus must actually contain duplicates")
    // quality leg: every derived doc scored exactly once, and the
    // in-flight scores equal the batch rescore of the same records
    val qOut = ManifestTable.read(spark, qual)
    assert(qOut.count() === wantDocs, "quality leg must score every doc once")
    // r17 verdict #2: the gate must discriminate — the two-class derived
    // corpus guarantees both keep outcomes occur, so a zeroed or
    // saturated split is a bug, not a corpus artifact
    val kept = qOut.filter(col("q_keep") === 1).count()
    assert(kept > 0 && kept < wantDocs,
      s"quality gate is degenerate: kept $kept of $wantDocs")
    // multiset compare: doc_id legitimately collides across the two
    // seeded batches (same sequence numbers, different field values), so
    // a doc_id-keyed map would pair a record with the OTHER batch's score
    def scoreBag(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "q_mean_milli", "q_keep").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .groupBy(identity).view.mapValues(_.length).toMap
    val wantScores = scoreBag(graft.operators.TextOps.streamingQualityFilter(
      docs, "text", model, keepOnly = false))
    assert(scoreBag(qOut) === wantScores,
      "in-flight scores must equal the batch rescore of the same records")
  }

  test("crash matrix: replay after any commit-prefix crash lands ONLY the missing sinks (r15)") {
    val base = 1704067200L
    val b0 = genBatch(200, seed = 5, baseTime = base).toDS().toDF()
    val b1 = genBatch(200, seed = 6, baseTime = base + 600L).toDS().toDF()
    val vecs1 = FlowPipeline.deriveVecs(b1, 10L)
    val wantVecs = FlowPipeline.deriveVecs(b0, 10L).count() + vecs1.count()
    // p = how many of the four commits landed BEFORE the crash
    for (p <- 0 to 4) {
      val raw = tmp(); val roll = tmp(); val ivf = tmp(); val lsh = tmp()
      seedIvf(ivf)
      FlowPipeline.pipelineBatch(b0, 0L, raw, roll, ivf, lsh, vecEvery = 10L)
      if (p >= 1) ManifestTable.append(FlowStreams.projectRaw(b1), raw,
        Some("event_date"), 1L)
      if (p >= 2) ManifestTable.append(FlowStreams.rollupPartials(b1), roll,
        Some("event_date"), 1L)
      if (p >= 3) graft.operators.Similarity.appendToIvfIndexBatch(vecs1, ivf, 2L)
      if (p >= 4) graft.operators.Similarity.appendToLshIndexBatch(vecs1, lsh, 2L)
      // the restarted checkpoint re-delivers the WHOLE batch — twice, for
      // the crash-after-all-commits-before-checkpoint image
      FlowPipeline.pipelineBatch(b1, 1L, raw, roll, ivf, lsh, vecEvery = 10L)
      FlowPipeline.pipelineBatch(b1, 1L, raw, roll, ivf, lsh, vecEvery = 10L)
      val (r, f, iv, ls) = sinkCounts(raw, roll, ivf, lsh)
      assert((r, f, iv, ls) === ((400L, 400L, wantVecs, wantVecs)),
        s"crash after $p commits: sinks must converge to no-loss/no-dup")
    }
  }

  test("pipeline tables record MV stats: a one-hour range on two days reads fewer files than the snapshot") {
    val raw = tmp(); val roll = tmp(); val ivf = tmp(); val lsh = tmp()
    seedIvf(ivf)
    val t0 = 1704067200L
    Seq(0L, 1L).foreach { day =>
      val b = genBatch(200, seed = 40 + day, baseTime = t0 + day * 86400L).toDS().toDF()
      FlowPipeline.pipelineBatch(b, day, raw, roll, ivf, lsh, vecEvery = 10L)
    }
    // the first hour holds the whole first-day batch and nothing else
    val rawHour = FlowStreams.readRawManagedRange(spark, raw, t0, t0 + 3600L).count()
    val (rawSel, rawTot) = ManifestTable.lastPruneStats(raw).get
    assert(rawSel < rawTot, s"raw range read kept $rawSel of $rawTot files")
    assert(rawHour === 200L)
    val rollHour = FlowStreams.readRollupManagedRange(spark, roll, t0, t0 + 3600L)
      .agg(sum("flow_count")).head().getLong(0)
    val (rollSel, rollTot) = ManifestTable.lastPruneStats(roll).get
    assert(rollSel < rollTot, s"rollup range read kept $rollSel of $rollTot files")
    assert(rollHour === 200L)
  }

  test("replayed IVF append re-emits a crash-lost drift line without re-committing (r15 advice)") {
    val ivf = tmp()
    seedIvf(ivf)
    val b0 = genBatch(200, seed = 7, baseTime = 1704067200L).toDS().toDF()
    val vecs = FlowPipeline.deriveVecs(b0, 10L)
    graft.operators.Similarity.appendToIvfIndexBatch(vecs, ivf, 1L)
    val cells = ManifestTable.read(spark, s"$ivf/cells").count()
    val drift = java.nio.file.Paths.get(ivf, "drift", "b1")
    assert(java.nio.file.Files.exists(drift))
    // the crash window: cells commit durable, drift line lost
    java.nio.file.Files.delete(drift)
    graft.operators.Similarity.appendToIvfIndexBatch(vecs, ivf, 1L)
    assert(java.nio.file.Files.exists(drift),
      "replay must re-derive and re-emit the lost drift line")
    assert(ManifestTable.read(spark, s"$ivf/cells").count() === cells,
      "the re-emit must not commit a second copy of the batch")
    // exactly one line per batch: build baseline (b0) + this batch (b1)
    val stats = graft.operators.Similarity.ivfDriftStats(spark, ivf).collect()
    assert(stats.map(_.getLong(0)).toSeq === Seq(0L, 1L))
  }

  test("every replay-guarded observed append re-emits a crash-lost line without a new manifest version") {
    import graft.operators.{Pq, Similarity, TextOps}
    val lsh = tmp(); val ivf = tmp(); val pq = tmp(); val qual = tmp()
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val build = emb.filter(col("vec_id") < 40)
    val vecs = emb.filter(col("vec_id") >= 40 && col("vec_id") < 80)
    val batch = genBatch(500, seed = 7, baseTime = 1704067200L).toDS().toDF()
    val model = TextOps.TokenWeightModel(Seq("stream", " "), Seq(900L, 900L),
      unkWeight = 500L)
    val scored = TextOps.streamingQualityFilter(
      FlowPipeline.deriveDocs(batch, 5L), "text", model, keepOnly = false)
    def line(dir: String, b: Long) = java.nio.file.Paths.get(dir, "drift", s"b$b")
    // (case, table, its line, the call) — builds first: the appends need
    // the centroids and codebook the builds commit at batch 0
    val cases: Seq[(String, String, java.nio.file.Path, () => Unit)] = Seq(
      ("LSH build", s"$lsh/buckets", line(lsh, 0L),
        () => Similarity.buildLshIndex(build, lsh)),
      ("IVF build", s"$ivf/cells", line(ivf, 0L),
        () => Similarity.buildIvfIndex(build, ivf, nCentroids = 4, kmeansIters = 1)),
      ("IVF-PQ build", s"$pq/cells", line(pq, 0L),
        () => Pq.buildIvfPqIndex(build, pq, nCentroids = 4, kmIters = 1)),
      ("LSH append", s"$lsh/buckets", line(lsh, 1L),
        () => Similarity.appendToLshIndexBatch(vecs, lsh, 1L)),
      ("IVF append", s"$ivf/cells", line(ivf, 1L),
        () => Similarity.appendToIvfIndexBatch(vecs, ivf, 1L)),
      ("IVF-PQ append", s"$pq/cells", line(pq, 1L),
        () => Pq.appendToIvfPqIndexBatch(vecs, pq, 1L)),
      ("quality leg", qual, line(qual, 1L),
        () => TextOps.qualityLegBatch(scored, qual, streamBatchId = 0L)))
    cases.foreach { case (name, table, drift, call) =>
      call()
      val version = ManifestTable.snapshot(table)._1
      assert(java.nio.file.Files.exists(drift), s"$name: the commit writes its line")
      // the crash window: commit durable, line lost
      java.nio.file.Files.delete(drift)
      call()
      assert(java.nio.file.Files.exists(drift), s"$name: the replay re-emits the line")
      assert(ManifestTable.snapshot(table)._1 === version,
        s"$name: the replay must not commit again")
    }
  }
}
