package graft

import graft.operators.Pq

/** Product-quantization family: an independent driver-side replay of the
  * integer-domain training, encoding, and ADC serving, plus plan-shape
  * contracts for the serving scan. */
class PqSpec extends SparkTestBase {

  private val M = 4
  private val K = 8
  private val Iters = 2
  private val Dims = 64
  private val Dsub = Dims / M
  private val Scale = 1048576L

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def quant(v: Float): Long = {
    val r = v.toDouble * Scale
    (if (r < 0) -math.floor(-r + 0.5) else math.floor(r + 0.5)).toLong
  }

  /** Plain-Scala retrain: hash-spread seeds, Iters rounds of integer-L2
    * assign + floor-div re-center. Returns (codeIds, cb(sub)(j)(pos)). */
  private def replayTrain(vecs: Seq[(Long, Array[Long])])
      : (Seq[Long], Array[Array[Array[Long]]]) = {
    val seeds = vecs.sortBy { case (id, _) => (md5hex(id.toString), id) }
      .take(K).sortBy(_._1)
    val codeIds = seeds.map(_._1)
    var cb = Array.tabulate(M) { s =>
      seeds.map(_._2.slice(s * Dsub, (s + 1) * Dsub)).toArray
    }
    def assign(q: Array[Long], s: Int): Int = {
      var bestJ = 0; var bestD = Long.MaxValue
      for (j <- 0 until K) {
        var d = 0L
        for (p <- 0 until Dsub) {
          val diff = q(s * Dsub + p) - cb(s)(j)(p); d += diff * diff
        }
        if (d < bestD) { bestD = d; bestJ = j }
      }
      bestJ
    }
    for (_ <- 0 until Iters) {
      val sums = Array.fill(M, K, Dsub)(0L)
      val counts = Array.fill(M, K)(0L)
      vecs.foreach { case (_, q) =>
        for (s <- 0 until M) {
          val j = assign(q, s)
          counts(s)(j) += 1
          for (p <- 0 until Dsub) sums(s)(j)(p) += q(s * Dsub + p)
        }
      }
      val next = cb.map(_.map(_.clone()))
      for (s <- 0 until M; j <- 0 until K; if counts(s)(j) > 0; p <- 0 until Dsub)
        next(s)(j)(p) = math.floor(sums(s)(j)(p).toDouble / counts(s)(j)).toLong
      cb = next
    }
    (codeIds, cb)
  }

  private lazy val vecs: Seq[(Long, Array[Long])] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(quant).toArray)).toSeq

  test("pq training: codebook matches an independent driver-side integer-domain retrain (r15)") {
    val (wantIds, wantCb) = replayTrain(vecs)
    val model = Pq.train(Tables.embeddings(spark, sf), M, K, Iters, Dims)
    assert(model.codeIds === wantIds, "seed/code ids diverged")
    for (s <- 0 until M; j <- 0 until K)
      assert(model.codebook(s)(j) === wantCb(s)(j).toSeq,
        s"codeword (sub=$s, j=$j) diverged from the replay")
    // the registry row exposes the same values keyed by seed id
    val rows = Pq.codebook(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getLong(1), r.getInt(2)), r.getLong(3))).toMap
    assert(rows.size === M * K * Dsub)
    for (s <- 0 until M; j <- 0 until K; p <- 0 until Dsub)
      assert(rows((s, wantIds(j), p)) === wantCb(s)(j)(p))
  }

  test("pq serving: ADC top-k replays from the driver model; scores are exact integer ratios (r15)") {
    val (_, cb) = replayTrain(vecs)
    def assign(q: Array[Long], s: Int): Int = {
      var bestJ = 0; var bestD = Long.MaxValue
      for (j <- 0 until K) {
        var d = 0L
        for (p <- 0 until Dsub) {
          val diff = q(s * Dsub + p) - cb(s)(j)(p); d += diff * diff
        }
        if (d < bestD) { bestD = d; bestJ = j }
      }
      bestJ
    }
    val codes = vecs.map { case (id, q) => id -> (0 until M).map(assign(q, _)) }.toMap
    val queries = vecs.filter(_._1 < 5)
    val want = queries.flatMap { case (qid, qq) =>
      val qn = qq.map(x => x * x).sum
      val scored = vecs.filter(_._1 != qid).map { case (vid, _) =>
        val cs = codes(vid)
        var dot = 0L; var rn = 0L
        for (s <- 0 until M) {
          val c = cb(s)(cs(s))
          for (p <- 0 until Dsub) dot += qq(s * Dsub + p) * c(p)
          rn += c.map(x => x * x).sum
        }
        val cos = BigDecimal(dot.toDouble / (math.sqrt(qn.toDouble) * math.sqrt(rn.toDouble)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        (vid, cos)
      }
      scored.sortBy { case (vid, cos) => (-cos, vid) }.take(5)
        .zipWithIndex.map { case ((vid, cos), i) => (qid, vid, cos, i + 1) }
    }
    val got = Pq.knnPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === want, "ADC ranking diverged from the driver replay")
  }

  test("pq serving plan: scoring reads the codes relation only — no join, no raw-vector access above the encode (r15)") {
    val df = Pq.knnPq(spark, sf)
    val p = df.queryExecution.executedPlan
    assert(p.collect { case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      "ADC serving must be LUT lookups in a kernel, not a join")
    // one embeddings scan feeds encode; the window's hash exchange carries
    // (vec_id, query_id, adc_cos) — never embedding or qv arrays
    p.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      .foreach(e => e.output.foreach(a =>
        assert(a.name != "embedding" && a.name != "qv" && a.name != "codes",
          s"raw/quantized vectors ('${a.name}') crossed the ranking exchange")))
    // recall sanity: ADC over 8 codewords x 4 subs still finds most true
    // neighbors on this corpus (and the row itself is oracle-checked)
    val rec = Pq.pqRecall(spark, sf).collect().map(_.getDouble(3))
    assert(rec.nonEmpty && rec.forall(r => r >= 0.0 && r <= 1.0))
  }

  test("pq m-curve: recall@k is non-decreasing in the subspace count and each row replays from sim_knn_pq (r15)") {
    val rows = Pq.pqMCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq === Seq(2, 4, 8, 16, 32))
    rows.foreach { case (_, nTruth, hits, recall) =>
      assert(nTruth === 25L && hits <= nTruth)
      assert(math.abs(recall - hits.toDouble / nTruth) < 1e-9)
    }
    // finer quantization can only help on this corpus (deterministic
    // data + deterministic training — this is a data check, not a law)
    rows.sliding(2).foreach { case Array((m1, _, _, r1), (m2, _, _, r2)) =>
      assert(r2 >= r1, s"recall fell from m=$m1 ($r1) to m=$m2 ($r2)")
    }
    // each point is exactly the per-m knnPq hit count against brute truth
    val truth = graft.operators.Similarity.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val h8 = Pq.knnPq(spark, sf, m = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(truth)
    assert(rows.find(_._1 == 8).get._3 === h8.toLong)
  }

  test("ivf+pq: pruned serving scores agree with the full ADC scan on shared pairs; probes broadcast (r15)") {
    val pruned = Pq.knnIvfPq(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(pruned.nonEmpty)
    // the full-scan ADC scores are THE scores — cell pruning may drop
    // candidates but must never change a surviving pair's score
    val full = Pq.knnPqOver(Tables.embeddings(spark, sf),
        Pq.train(Tables.embeddings(spark, sf)), nQueries = 5, k = 499)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    pruned.foreach { case (pair, cos) =>
      assert(full(pair) === cos, s"ADC score diverged for $pair")
    }
    // plan: the probe relation broadcasts onto the assigned corpus; the
    // ranking exchange never carries vectors or codes (AQE off for the
    // one planning call — the PlanContractsSpec convention — so the
    // asserted shape is the static one)
    val old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val p = try Pq.knnIvfPq(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", old)
    assert(p.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }.nonEmpty, "probe set must broadcast — candidates come from cells, not a shuffle")
    p.collect { case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
      .foreach(e => e.output.foreach(a =>
        assert(a.name != "embedding" && a.name != "qv" && a.name != "codes",
          s"raw/quantized vectors ('${a.name}') crossed the ranking exchange")))
  }

  test("residual ivf+pq: served scores equal a driver-side reconstruction replay; sse measures the residual gain (r15)") {
    val emb = Tables.embeddings(spark, sf)
    // driver-side replay of the residual pipeline: coarse assignment
    // (taken from the same deterministic kmeans the operator uses),
    // integer mean centroids, residual vectors, PQ retrain on them
    val cents = graft.operators.Similarity.kmeansCentroids(emb, 8, 2)
    val asg = graft.operators.Similarity.withNearestCid(emb, cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byCid = vecs.groupBy { case (id, _) => asg(id) }
    val mq: Map[Long, Array[Long]] = byCid.map { case (cid, vs) =>
      val s = Array.fill(Dims)(0L)
      vs.foreach { case (_, q) => for (p <- 0 until Dims) s(p) += q(p) }
      cid -> s.map(x => math.floor(x.toDouble / vs.size).toLong)
    }
    val resVecs = vecs.map { case (id, q) =>
      val c = mq(asg(id)); (id, Array.tabulate(Dims)(p => q(p) - c(p)))
    }
    val (_, cbR) = replayTrain(resVecs)
    def assign(q: Array[Long], s: Int): Int = {
      var bestJ = 0; var bestD = Long.MaxValue
      for (j <- 0 until K) {
        var d = 0L
        for (p <- 0 until Dsub) {
          val diff = q(s * Dsub + p) - cbR(s)(j)(p); d += diff * diff
        }
        if (d < bestD) { bestD = d; bestJ = j }
      }
      bestJ
    }
    // reconstruction x̂ = mean centroid + residual codewords
    val recon: Map[Long, Array[Long]] = resVecs.map { case (id, rq) =>
      val x = mq(asg(id)).clone()
      for (s <- 0 until M) {
        val c = cbR(s)(assign(rq, s))
        for (p <- 0 until Dsub) x(s * Dsub + p) += c(p)
      }
      id -> x
    }.toMap
    val qmap = vecs.toMap
    val served = Pq.knnIvfPqRes(spark, sf).collect()
    assert(served.nonEmpty)
    served.foreach { r =>
      val (qid, nid, got) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val qq = qmap(qid); val x = recon(nid)
      var dot = 0L; var xn = 0L; var qn = 0L
      for (p <- 0 until Dims) {
        dot += qq(p) * x(p); xn += x(p) * x(p); qn += qq(p) * qq(p)
      }
      val want = BigDecimal(dot.toDouble /
          (math.sqrt(qn.toDouble) * math.sqrt(xn.toDouble)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got === want, s"residual ADC score diverged for ($qid, $nid)")
    }
    // the gain row's sse is exactly the replay's residual training loss,
    // and residual coding cuts it vs the plain codebook on this corpus
    val gain = Pq.ivfPqResGain(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(4)).toMap
    val wantResSse = resVecs.map { case (_, rq) =>
      var e = 0L
      for (s <- 0 until M) {
        val c = cbR(s)(assign(rq, s))
        for (p <- 0 until Dsub) { val d = rq(s * Dsub + p) - c(p); e += d * d }
      }
      e
    }.sum
    assert(gain("ivfpq_res") === wantResSse, "sse diverged from the replay")
    assert(gain("ivfpq_res") < gain("ivfpq"),
      "residual coding should cut quantization error on this corpus")
  }

  test("ivfpq index: materialized serving equals the inline stack; cells store codes not vectors; appends land exactly once (r16)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    Pq.buildIvfPqIndex(emb, idx)
    val queries = emb.filter(col("vec_id") < 5)
    val got = Pq.knnIvfPqIndexed(spark, idx, queries).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val want = Pq.knnIvfPq(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(got.toSeq === want.toSeq,
      "materialized serving diverged from the inline stack")
    // the index stores CODES, never embeddings — the ~64x memory story
    val cells = graft.streaming.ManifestTable.read(spark, s"$idx/cells")
    assert(cells.columns.contains("codes") && !cells.columns.contains("embedding"))
    // round-trip: the persisted codebook rehydrates to the trained model
    assert(Pq.readIvfPqModel(spark, idx) === Pq.train(emb))
    // exactly-once append: new vectors serve; a replayed id is a no-op
    val extra = emb.select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
      .limit(7)
    Pq.appendToIvfPqIndexBatch(extra, idx, 1L)
    Pq.appendToIvfPqIndexBatch(extra, idx, 1L)
    // re-read: a manifest read pins the snapshot current at read time
    assert(graft.streaming.ManifestTable.read(spark, s"$idx/cells")
      .filter(col("vec_id") >= 100000L).count() === 7L,
      "replayed append must not double-encode")
    // empty query window returns empty, not a kernel construction error
    assert(Pq.knnIvfPqIndexed(spark, idx,
      emb.filter(col("vec_id") < 0)).collect().isEmpty)
  }

  test("ivfpq index lifecycle: per-append drift lines; planted drift flips the flag; retrain serves hash-identical; compaction is serving-invisible (r17)") {
    import org.apache.spark.sql.functions.{col, transform}
    import graft.operators.Similarity
    import graft.streaming.ManifestTable
    val emb = Tables.embeddings(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_life").toString
    Pq.buildIvfPqIndex(emb, idx)
    // the build leaves the batch-0 baseline drift line
    val base = Similarity.ivfDriftStats(spark, idx).collect()
    assert(base.map(_.getLong(0)).toSeq === Seq(0L))
    assert(base(0).getLong(1) === emb.count())
    // healthy append: same-population vectors — a drift line lands, the
    // flag stays down, and the retrain maintainer is a no-op
    val healthy = emb
      .select((col("vec_id") + 200000L).as("vec_id"), col("embedding"))
      .limit(20)
    Pq.appendToIvfPqIndexBatch(healthy, idx, 1L)
    assert(Similarity.ivfDriftStats(spark, idx).collect()
      .map(_.getLong(0)).toSeq === Seq(0L, 1L))
    assert(!Similarity.needsRetrain(spark, idx),
      "same-population appends must not trip the flag")
    val noopDir = java.nio.file.Files.createTempDirectory("graft_ivfpq_noop").toString
    assert(!Pq.retrainIvfPqIndex(emb, idx, noopDir),
      "undrifted index must not rebuild")
    // planted drift: NEGATED vectors assign at cosine ≈ -baseline — the
    // appended population has left the trained quantization
    val drifted = emb
      .select((col("vec_id") + 300000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    Pq.appendToIvfPqIndexBatch(drifted, idx, 2L)
    assert(Similarity.needsRetrain(spark, idx),
      "planted drift must flip the retrain flag")
    // retrain on the flag: fresh path, re-derived geometry — serving over
    // the undrifted corpus is hash-identical to the inline stack (the
    // deterministic-build equality contract)
    val fresh = java.nio.file.Files.createTempDirectory("graft_ivfpq_fresh").toString
    assert(Pq.retrainIvfPqIndex(emb, idx, fresh))
    val queries = emb.filter(col("vec_id") < 5)
    assert(Pq.knnIvfPqIndexed(spark, fresh, queries).collect().toSeq ===
      Pq.knnIvfPq(spark, sf).collect().toSeq,
      "post-retrain serving must be hash-identical on undrifted data")
    // the fresh index starts a fresh drift history: baseline only → flag down
    assert(!Similarity.needsRetrain(spark, fresh))
    // ONLINE compaction over CODE cells: fragment with two more appends,
    // compact to one file per cell, serving result-invisible
    Pq.appendToIvfPqIndexBatch(healthy, fresh, 1L)
    Pq.appendToIvfPqIndexBatch(
      emb.select((col("vec_id") + 400000L).as("vec_id"), col("embedding"))
        .limit(20), fresh, 2L)
    val before = Pq.knnIvfPqIndexed(spark, fresh, queries).collect().toSeq
    val byCell = ManifestTable.snapshot(s"$fresh/cells")._2
      .groupBy(f => f.substring(0, f.lastIndexOf('/').max(0)))
    assert(byCell.exists(_._2.size > 1), "appends must have fragmented a cell")
    assert(Similarity.compactIvfCells(spark, fresh))
    val after = ManifestTable.snapshot(s"$fresh/cells")._2
      .groupBy(f => f.substring(0, f.lastIndexOf('/').max(0)))
    assert(after.values.forall(_.size <= 1), "every cell compacts to one file")
    assert(Pq.knnIvfPqIndexed(spark, fresh, queries).collect().toSeq === before,
      "compaction must be serving-invisible")
    // drift history untouched by compaction
    assert(Similarity.ivfDriftStats(spark, fresh).collect()
      .map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
  }

  test("streaming ivfpq append: exactly-once micro-batches, one drift line each, equals the batch append path (r17)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.Similarity
    import graft.streaming.ManifestTable
    val emb40 = Tables.embeddings(spark, sf).filter(col("vec_id") < 40)
    val dirS = java.nio.file.Files.createTempDirectory("graft_sivfpq").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft_bivfpq").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_sivfpq_cp").toString
    // deterministic build → the streamed and batch twins start identical
    Pq.buildIvfPqIndex(emb40, dirS, nCentroids = 4)
    Pq.buildIvfPqIndex(emb40, dirB, nCentroids = 4)
    val rest = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 40 && col("vec_id") < 80)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = Pq.startStreamingIvfPqAppend(
      ms.toDF().toDF("vec_id", "embedding"), dirS, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    try {
      ms.addData(rest.filter(_._1 < 60).toSeq: _*)
      q.processAllAvailable()
      ms.addData(rest.filter(_._1 >= 60).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    // the same deliveries through the BATCH api on the twin
    Pq.appendToIvfPqIndexBatch(
      rest.filter(_._1 < 60).toSeq.toDF("vec_id", "embedding"), dirB, 1L)
    Pq.appendToIvfPqIndexBatch(
      rest.filter(_._1 >= 60).toSeq.toDF("vec_id", "embedding"), dirB, 2L)
    def cellSet(d: String) = ManifestTable.read(spark, s"$d/cells")
      .select("vec_id", "cid", "codes").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Int](2))).toSet
    val s = cellSet(dirS)
    assert(s.size === 80 && s.map(_._1).size === 80,
      "build 40 + two streamed batches of 20, no loss, no duplication")
    assert(s === cellSet(dirB),
      "streamed cells must equal the batch append path's")
    // one drift line per commit, batch N → manifest N+1
    assert(Similarity.ivfDriftStats(spark, dirS).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(0L -> 40L, 1L -> 20L, 2L -> 20L))
    // restart replay of the last micro-batch: manifest no-op, no extra line
    Pq.appendToIvfPqIndexBatch(
      rest.filter(_._1 >= 60).toSeq.toDF("vec_id", "embedding"), dirS, 2L)
    assert(cellSet(dirS).size === 80, "replay must not double-encode")
    assert(Similarity.ivfDriftStats(spark, dirS).count() === 3L)
    // the maintained index serves identically to the batch twin
    val queries = Tables.embeddings(spark, sf).filter(col("vec_id") < 2)
    assert(Pq.knnIvfPqIndexed(spark, dirS, queries).collect().toSeq ===
      Pq.knnIvfPqIndexed(spark, dirB, queries).collect().toSeq)
  }

  test("ivfpq index: zero probed files serves empty through the int-typed fallback schema (r16 advice)") {
    import org.apache.spark.sql.functions.col
    import graft.streaming.ManifestTable
    val emb = Tables.embeddings(spark, sf)
    val src = java.nio.file.Files.createTempDirectory("graft_ivfpq_src").toString
    Pq.buildIvfPqIndex(emb, src)
    // an index whose cells table committed EMPTY (a build over a fully-
    // filtered corpus slice, or every probed cell unpopulated): the
    // fallback schema's `codes` must be array<int> — PqEncode's output
    // type and what pqAdcPartsAt type-checks — or the serve dies in
    // analysis instead of returning the empty result this edge means
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_empty").toString
    ManifestTable.append(ManifestTable.read(spark, s"$src/centroids"),
      s"$idx/centroids", None, 0L)
    ManifestTable.append(ManifestTable.read(spark, s"$src/codebook"),
      s"$idx/codebook", None, 0L)
    ManifestTable.append(ManifestTable.read(spark, s"$src/codeids"),
      s"$idx/codeids", None, 0L)
    ManifestTable.append(
      ManifestTable.read(spark, s"$src/cells").filter(col("vec_id") < Long.MinValue),
      s"$idx/cells", Some("cid_part"), 0L)
    val served = Pq.knnIvfPqIndexed(spark, idx, emb.filter(col("vec_id") < 3))
    assert(served.collect().isEmpty,
      "an all-empty-cells index must serve an empty result")
    assert(served.columns.toSeq ===
      Seq("query_id", "neighbor_id", "adc_cos", "rank"))
  }

  test("empty edges: zero-query serve and empty centroid table return empty, not throw (r15 advice)") {
    import org.apache.spark.sql.functions.col
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.train(emb)
    // nQueries window matching no vectors — the batched ADC kernel must
    // not be constructed with an empty LUT set
    val served = Pq.knnPqOver(emb, model, nQueries = 0, k = 5)
    assert(served.collect().isEmpty)
    assert(served.columns.toSeq ===
      Seq("query_id", "neighbor_id", "adc_cos", "rank"))
    // empty centroid table — the argmax kernel must not be constructed
    // with zero centroids; result is the explode spelling's: no rows
    val cents = graft.operators.Similarity.kmeansCentroids(emb, 8, 2)
      .filter(col("cid") < Long.MinValue)
    val asg = graft.operators.Similarity.withNearestCid(emb, cents)
    assert(asg.collect().isEmpty)
    assert(asg.columns.contains("cid") && asg.columns.contains("assign_cos"))
  }

  test("pq training on a short 16-dim training set: a dims mismatch is rejected by name, fewer seeds than codes train") {
    import org.apache.spark.sql.functions.col
    // 50 16-dim vectors trained at 64 dims used to slice empty codewords
    // and crash inside the encode kernel
    val emb = graft.streaming.FlowPipeline.deriveVecs(
      graft.flow.FlowGen.flows(spark, 500L, seed = 99L).toDF(), every = 10L)
    val err = intercept[IllegalArgumentException](Pq.train(emb, m = M, k = K, iters = 1, dims = 64))
    assert(err.getMessage.contains("64-dim") && err.getMessage.contains("has 16 dimensions"),
      err.getMessage)
    // the same vectors at their own width, with fewer rows than codes:
    // the codebook holds one code per seed and every vector encodes
    val few = emb.orderBy("vec_id").limit(5)
    val model = Pq.train(few, m = M, k = K, iters = 1, dims = 16)
    assert(model.codeIds.size === 5 && model.codebook.forall(_.size == 5))
    val codes = Pq.encoded(emb, model).select(col("codes")).collect().map(_.getSeq[Int](0))
    assert(codes.length === 50 && codes.forall(c => c.size == M && c.forall(j => j >= 0 && j < 5)))
  }

  test("ivfpq index over 16-dim vectors: the codebook takes the data's width; appends and probes serve") {
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("graft_ivfpq_16").toString
    // 50 vectors, vec_id 0, 10, …, 490
    val emb = graft.streaming.FlowPipeline.deriveVecs(
      graft.flow.FlowGen.flows(spark, 500L, seed = 99L).toDF(), every = 10L)
    Pq.buildIvfPqIndex(emb, idx, nCentroids = 4, kmIters = 1)
    val model = Pq.readIvfPqModel(spark, idx)
    assert(model.m === M && model.dsub === 16 / M)
    assert(model === Pq.train(emb, dims = 16))
    val cents = graft.streaming.ManifestTable.read(spark, s"$idx/centroids")
    def served(corpus: org.apache.spark.sql.DataFrame) = (
      Pq.knnIvfPqIndexed(spark, idx, emb.filter(col("vec_id") < 21)).collect().toSeq,
      Pq.knnIvfPqOver(spark, corpus, model, cents, nQueries = 21, k = 5, nProbe = 3).collect().toSeq)
    val (got, want) = served(emb)
    assert(got.map(_.getLong(0)).distinct.sorted === Seq(0L, 10L, 20L))
    assert(got === want, "materialized serving diverged from the inline stack")
    // an exactly-once append of new 16-dim vectors encodes at the same width
    val extra = emb.filter(col("vec_id") < 70)
      .select((col("vec_id") + 100000L).as("vec_id"), col("embedding"))
    Pq.appendToIvfPqIndexBatch(extra, idx, 1L)
    Pq.appendToIvfPqIndexBatch(extra, idx, 1L)
    val cells = graft.streaming.ManifestTable.read(spark, s"$idx/cells")
    assert(cells.count() === 57L, "replayed append must not double-encode")
    assert(cells.select(col("codes")).collect().forall(_.getSeq[Int](0).size == M))
    val (gotAfter, wantAfter) = served(emb.union(extra))
    assert(gotAfter === wantAfter, "served appends diverged from the inline stack")
    assert(gotAfter.exists(_.getLong(1) >= 100000L), "no appended vector served")
  }
}
