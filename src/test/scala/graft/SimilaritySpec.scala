package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity

class SimilaritySpec extends SparkTestBase {

  test("brute-force knn: k rows per query, ranks contiguous, sims descending") {
    val rows = Similarity.knnBrute(spark, sf, nQueries = 5, k = 5).collect()
    assert(rows.length === 25)
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq === (1 to 5))
      val sims = byRank.map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cosine is 1.0 for identical vectors, computed in double") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f, 3.0f)),
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)))
      .toDF("a", "b")
    val res = df.select(round(Similarity.cosine(col("a"), col("b")), 9)).collect()
    assert(res(0).getDouble(0) === 1.0)
    assert(res(1).getDouble(0) === 0.0)
  }

  test("IVF ANN: k rows per query cap, candidates only from probed clusters, sane recall") {
    val brute = Similarity.knnBrute(spark, sf, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.knnIvf(spark, sf, nQueries = 5, k = 5)
      .collect()
    assert(ivf.length <= 25)
    ivf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length))
    }
    val recall = brute.count(ivf.map(r => (r.getLong(0), r.getLong(1))).toSet.contains).toDouble / brute.size
    // 4 of 16 probed clusters on a random corpus: recall is approximate
    assert(recall >= 0.1, s"IVF recall $recall vs brute")
  }

  test("materialized IVF index: pruned probe reads only probed cells; equals inline IVF") {
    import graft.streaming.ManifestTable
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    Similarity.buildIvfIndex(Tables.embeddings(spark, sf), idx,
      nCentroids = 16, kmeansIters = 2, trainBuckets = 2500)
    // nProbe=1, one query → exactly one probed cell of 16: the read MUST
    // prune, and the result must equal the inline path at the same params
    val q1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
    val viaIndex = Similarity.knnIvfIndexed(spark, idx, q1, k = 5, nProbe = 1)
      .collect().map(_.toSeq).toSeq
    val (sel, tot) = ManifestTable.lastPruneStats(s"$idx/cells").get
    assert(tot >= 8, s"index should hold one file per non-empty cell, got $tot")
    assert(sel < tot && sel <= 1, s"1-cell probe must read 1 file, read $sel of $tot")
    val inline = Similarity.knnIvfOver(Tables.embeddings(spark, sf),
        col("vec_id") === 0L, k = 5, nCentroids = 16, nProbe = 1,
        kmeansIters = 2, trainBuckets = 2500)
      .collect().map(_.toSeq).toSeq
    assert(viaIndex.nonEmpty && viaIndex === inline,
      "indexed serving must reproduce the inline IVF exactly")
    // the registry shape (5 queries, nProbe=4) matches the inline registry
    // query — the driver checks it against the shared DuckDB oracle
    val reg = Similarity.queries("sim_knn_ivf_indexed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val regInline = Similarity.queries("sim_knn_ivf")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(reg === regInline)
  }

  test("materialized LSH index: pruned probe reads only probed buckets; equals inline LSH") {
    import graft.streaming.ManifestTable
    import org.apache.spark.sql.functions.col
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_spec").toString
    Similarity.buildLshIndex(Tables.embeddings(spark, sf), idx, bits = 8)
    // probeDist=0, one query → exactly ONE probed bucket of ≤256
    val q1 = Tables.embeddings(spark, sf).filter(col("vec_id") === 0L)
    val viaIndex = Similarity.knnLshIndexed(spark, idx, q1, k = 5, bits = 8, probeDist = 0)
      .collect().map(_.toSeq).toSeq
    val (sel, tot) = ManifestTable.lastPruneStats(s"$idx/buckets").get
    assert(sel < tot && sel <= 1, s"a 0-distance probe reads one bucket: $sel of $tot")
    // the registry shape (5 queries, probeDist=2) equals the inline path
    val reg = Similarity.queries("sim_knn_lsh_indexed")(spark, sf)
      .collect().map(_.toSeq).toSeq
    val inline = Similarity.queries("sim_knn_lsh")(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(reg.nonEmpty && reg === inline,
      "indexed LSH serving must reproduce the inline path exactly")
    // the 0-distance probe returns same-bucket neighbors only (sane shape;
    // its top-k can differ from the multiprobe top-k by construction)
    assert(viaIndex.forall(_.head == 0L))
  }

  test("incremental IVF append: new vector probe-visible without rebuild, read stays pruned") {
    import spark.implicits._
    import graft.streaming.ManifestTable
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    val emb = Tables.embeddings(spark, sf)
    Similarity.buildIvfIndex(emb, idx, nCentroids = 16, kmeansIters = 2, trainBuckets = 2500)
    // plant a cross-batch exact near-dup of query vector 0 under a fresh id:
    // same direction → same nearest cell, cosine 1.0 → rank 1 if visible
    val base = emb.filter(col("vec_id") === 0L)
      .select("embedding").head.getSeq[Float](0).toArray
    val before = Similarity.knnIvfIndexed(spark, idx,
      emb.filter(col("vec_id") === 0L), k = 1, nProbe = 1).collect()
    assert(before.head.getLong(1) !== 1000000L)
    Similarity.appendToIvfIndex(Seq((1000000L, base)).toDF("vec_id", "embedding"), idx)
    val after = Similarity.knnIvfIndexed(spark, idx,
      emb.filter(col("vec_id") === 0L), k = 1, nProbe = 1).collect()
    assert(after.head.getLong(1) === 1000000L,
      "appended near-dup must be probe-visible and rank first")
    assert(after.head.getDouble(2) === 1.0)
    // the probe still reads a bounded subset (appends add files inside
    // cells, never widen the read scope)
    val (sel, tot) = ManifestTable.lastPruneStats(s"$idx/cells").get
    assert(sel < tot, s"append must not break pruning: read $sel of $tot")
  }

  test("IVF drift telemetry: every commit records assignment quality; a drifted append degrades it (r9)") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_drift").toString
    // a CLUSTERED build corpus (8 tight one-hot-direction clusters in 8
    // dims) so the trained quantization is genuinely good — baseline
    // assignment cosine ≈ 1 — and drift away from it is measurable. (On a
    // uniform random corpus best-of-k cosine is weak for EVERY batch, so
    // no append can look much worse than the build.)
    val dim = 8
    def clustered(id: Long): (Long, Array[Float]) = {
      val c = (id % 8).toInt
      val v = Array.fill(dim)(0.0f)
      v(c) = 1.0f
      v((c + 1 + (id % 3).toInt) % dim) = 0.1f * (1 + (id % 2))
      (id, v)
    }
    val corpus = (0L until 160L).map(clustered)
    Similarity.buildIvfIndex(corpus.toDF("vec_id", "embedding"), idx,
      nCentroids = 8, kmeansIters = 2)
    // append 1: IN-DISTRIBUTION — more vectors from the same clusters
    Similarity.appendToIvfIndex(
      (1000L until 1050L).map(clustered).toDF("vec_id", "embedding"), idx)
    // r11: an in-distribution append does NOT trip the retrain predicate
    assert(!Similarity.needsRetrain(spark, idx),
      "healthy append must not flag a retrain")
    // append 2: DRIFTED — equal-weight diagonal vectors, far from every
    // one-hot cluster direction (the distribution moved)
    val drifted = (2000L until 2050L).map(id =>
      (id, Array.fill(dim)(1.0f)))
    Similarity.appendToIvfIndex(drifted.toDF("vec_id", "embedding"), idx)
    val stats = Similarity.ivfDriftStats(spark, idx).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(stats.keySet === Set(0L, 1L, 2L), s"one drift line per commit: $stats")
    assert(stats(0L)._1 === 160L && stats(1L)._1 === 50L && stats(2L)._1 === 50L)
    // build baseline and in-distribution append: strong mean assignment
    // (kmeans at test scale merges a couple of clusters — the mean stays
    // high, the p05 tail carries the merge victims)
    assert(stats(0L)._2 > 0.85 && stats(1L)._2 > 0.85, s"healthy batches: $stats")
    // the drifted batch collapses both the mean and the TOP of the
    // distribution (p95: even its best-assigned vectors fit no centroid)
    // — the measured retrain signal
    assert(stats(2L)._2 < stats(1L)._2 - 0.3,
      s"drifted append must degrade mean_cos: $stats")
    assert(stats(2L)._4 < stats(0L)._4 - 0.3, s"p95 must degrade vs baseline: $stats")
    // r11: the drift loop CLOSES — the telemetry has a consumer. The
    // drifted append flips the retrain predicate at the default tolerance…
    assert(Similarity.needsRetrain(spark, idx),
      s"drifted append must flip needsRetrain: $stats")
    // …a huge tolerance rides it out (threshold is a real knob, not a
    // constant-true) …
    assert(!Similarity.needsRetrain(spark, idx, tolerance = 0.9))
    // …and a rebuild at a fresh path resets the signal: only the new
    // batch-0 baseline exists, nothing has drifted from it
    val idx2 = java.nio.file.Files.createTempDirectory("graft_ivf_retrained").toString
    val all = corpus ++ (1000L until 1050L).map(clustered) ++ drifted
    Similarity.buildIvfIndex(all.toDF("vec_id", "embedding"), idx2,
      nCentroids = 8, kmeansIters = 2)
    assert(!Similarity.needsRetrain(spark, idx2),
      "a rebuilt index has no appended drift to flag")
  }

  test("incremental LSH append: new vector probe-visible without rebuild") {
    import spark.implicits._
    import graft.streaming.ManifestTable
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_append").toString
    val emb = Tables.embeddings(spark, sf)
    Similarity.buildLshIndex(emb, idx, bits = 8)
    val base = emb.filter(col("vec_id") === 0L)
      .select("embedding").head.getSeq[Float](0).toArray
    Similarity.appendToLshIndex(Seq((1000000L, base)).toDF("vec_id", "embedding"), idx, bits = 8)
    // identical vector → identical signature → found in the 0-distance probe
    val after = Similarity.knnLshIndexed(spark, idx,
      emb.filter(col("vec_id") === 0L), k = 1, bits = 8, probeDist = 0).collect()
    assert(after.head.getLong(1) === 1000000L)
    assert(after.head.getDouble(2) === 1.0)
    val (sel, tot) = ManifestTable.lastPruneStats(s"$idx/buckets").get
    assert(sel < tot)
  }

  test("LSH drift telemetry: margin lines per commit; a planted toward-the-planes drift flips needsRetrain (r17 #8)") {
    import spark.implicits._
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_drift").toString
    val dim = 8; val bits = 8
    // one-hot build corpus: EVERY ±1 plane row gives |dot| = 1, so the
    // margin is exactly 1/sqrt(dim) for every vector — a strong, uniform
    // baseline the drifted batch can fall from
    def oneHot(id: Long): (Long, Array[Float]) = {
      val v = Array.fill(dim)(0.0f); v((id % dim).toInt) = 1.0f; (id, v)
    }
    Similarity.buildLshIndex((0L until 160L).map(oneHot)
      .toDF("vec_id", "embedding"), idx, bits)
    // in-distribution append: same margins → no flag
    Similarity.appendToLshIndexBatch((1000L until 1050L).map(oneHot)
      .toDF("vec_id", "embedding"), idx, 1L, bits)
    assert(!Similarity.needsRetrain(spark, idx),
      "healthy append must not flag a retrain")
    // drifted append: vectors ON plane 0's boundary — replicate the
    // deterministic plane construction (parity of md5("0,d")'s first hex
    // digit) to find two dims with EQUAL sign; e_i - e_j then has dot 0
    // with plane 0, i.e. margin 0: the population moved onto a boundary
    def sign(p: Int, d: Int): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$p,$d".getBytes("UTF-8"))
      if ((((h(0) >> 4) & 0xF) & 1) == 0) 1 else -1
    }
    val Seq(i, j, _*) = (0 until dim).filter(d => sign(0, d) == sign(0, 0))
    val onPlane = (2000L until 2050L).map { id =>
      val v = Array.fill(dim)(0.0f); v(i) = 1.0f; v(j) = -1.0f; (id, v)
    }
    Similarity.appendToLshIndexBatch(onPlane.toDF("vec_id", "embedding"), idx, 2L, bits)
    val stats = Similarity.ivfDriftStats(spark, idx).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(stats.keySet === Set(0L, 1L, 2L), s"one line per commit: $stats")
    assert(stats(0L)._1 === 160L && stats(2L)._1 === 50L)
    assert(math.abs(stats(0L)._2 - 1.0 / math.sqrt(dim)) < 1e-6,
      s"one-hot baseline margin must be 1/sqrt(dim): $stats")
    assert(stats(2L)._2 < 1e-9, s"on-plane batch must have zero margin: $stats")
    assert(Similarity.needsRetrain(spark, idx),
      s"planted margin drift must flip needsRetrain: $stats")
    assert(!Similarity.needsRetrain(spark, idx, tolerance = 0.9))
    // replay after a crash-lost drift line re-derives it, no re-commit
    val cells = graft.streaming.ManifestTable.read(spark, s"$idx/buckets").count()
    val line = java.nio.file.Paths.get(idx, "drift", "b2")
    java.nio.file.Files.delete(line)
    Similarity.appendToLshIndexBatch(onPlane.toDF("vec_id", "embedding"), idx, 2L, bits)
    assert(java.nio.file.Files.exists(line),
      "replay must re-derive the lost margin line")
    assert(graft.streaming.ManifestTable.read(spark, s"$idx/buckets").count() === cells)
  }

  test("IVF index runs object-store posture end-to-end: build, append, pruned probe") {
    import spark.implicits._
    import graft.streaming.ManifestTable
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf_objstore").toString
    // install the rename-free storage emulation on BOTH manifest tables the
    // component owns: the materialized index is a managed-table feature,
    // and it must need nothing rename-shaped from storage
    ObjectStoreTestIO.withObjectStore(s"$idx/centroids", s"$idx/cells") { _ =>
      val emb = Tables.embeddings(spark, sf)
      Similarity.buildIvfIndex(emb, idx, nCentroids = 16, kmeansIters = 2,
        trainBuckets = 2500)
      val q = emb.filter(col("vec_id") === 0L)
      val viaIndex = Similarity.knnIvfIndexed(spark, idx, q, k = 5, nProbe = 1)
        .collect().map(_.toSeq).toSeq
      val inline = Similarity.knnIvfOver(emb, col("vec_id") === 0L, k = 5,
          nCentroids = 16, nProbe = 1, kmeansIters = 2, trainBuckets = 2500)
        .collect().map(_.toSeq).toSeq
      assert(viaIndex.nonEmpty && viaIndex === inline,
        "object-store-backed serving must reproduce the inline IVF exactly")
      val (sel, tot) = ManifestTable.lastPruneStats(s"$idx/cells").get
      assert(sel < tot && sel <= 1, s"pruned probe must hold: $sel of $tot")
      // incremental append commits through the same posture
      val base = emb.filter(col("vec_id") === 0L)
        .select("embedding").head.getSeq[Float](0).toArray
      Similarity.appendToIvfIndex(Seq((1000000L, base)).toDF("vec_id", "embedding"), idx)
      val after = Similarity.knnIvfIndexed(spark, idx, q, k = 1, nProbe = 1).collect()
      assert(after.head.getLong(1) === 1000000L)
    }
  }

  test("superseded index dir is retired on corpus-change rebuild (r7 advisory)") {
    import java.nio.file.{Files, Paths}
    val corpus = Files.createTempDirectory("graft_corpus").toString
    val emb = Tables.embeddings(spark, sf)
    emb.limit(50).write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val first = Similarity.ivfIndexFor(spark, corpus)
    assert(Files.isDirectory(Paths.get(first)))
    // unchanged corpus: cache serves the same dir, no rebuild
    assert(Similarity.ivfIndexFor(spark, corpus) === first)
    // corpus rewritten (stamp changes): new index built, OLD DIR DELETED
    emb.limit(60).write.mode("overwrite").parquet(s"$corpus/embeddings.parquet")
    val second = Similarity.ivfIndexFor(spark, corpus)
    assert(second !== first)
    assert(Files.isDirectory(Paths.get(second)))
    assert(!Files.exists(Paths.get(first)),
      "superseded index temp dir must be deleted after the rebuild swap")
  }

  test("indexed LSH: probing an empty bucket returns empty, not an error") {
    import spark.implicits._
    // 7-dim (odd) all-ones corpus vector: every hyperplane dot is a sum of
    // an odd count of ±1 terms, never zero — so the negated query's
    // signature flips EVERY bit and its probeDist=0 bucket is provably
    // empty in a one-vector index
    val idx = java.nio.file.Files.createTempDirectory("graft_lsh_empty").toString
    val one = Seq((1L, Array.fill(7)(1.0f))).toDF("vec_id", "embedding")
    Similarity.buildLshIndex(one, idx, bits = 8)
    val opposite = Seq((99L, Array.fill(7)(-1.0f))).toDF("vec_id", "embedding")
    val res = Similarity.knnLshIndexed(spark, idx, opposite, k = 5, bits = 8, probeDist = 0)
    assert(res.collect().isEmpty, "empty probed bucket must compose as empty, not throw")
  }

  test("hash-seeded k-means centroids beat prefix seeds on a planted-cluster corpus") {
    import spark.implicits._
    // Adversarial-for-prefix corpus: the 16 LOWEST vec_ids (the r2 seed
    // set) are near-identical cluster-0 vectors whose only variation is in
    // "noise" dims 16..23 — so prefix seeding scatters every vector by its
    // noise phase, uncorrelated with the true cluster structure. The real
    // corpus (ids 16..335) is 8 tight clusters on primary dims 0..7, with
    // within-cluster neighbor order driven by a monotone component on the
    // shared dim 23.
    val dim = 26; val perCluster = 40; val nClusters = 8
    def seedVec(s: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(0) = 10f
      a(16 + s % 8) = 1f
      a
    }
    def vec(c: Int, j: Int): Array[Float] = {
      val a = new Array[Float](dim)
      a(c) = 10f
      a(8 + c) = 2f
      // noise phase (dims 16..23): the ONLY overlap with the prefix seeds
      // (so prefix assignment scatters by phase), but weak enough that true
      // neighbor ranking is driven by the monotone dim below (adjacent j).
      // dim 25 is untouched by any seed, so it cannot rescue prefix probing.
      a(16 + j % 8) = 0.3f
      a(25) = 0.1f * j
      a
    }
    val rows = (0 until 16).map(s => (s.toLong, seedVec(s))) ++
      (for (c <- 0 until nClusters; j <- 0 until perCluster)
        yield ((16 + c * perCluster + j).toLong, vec(c, j)))
    val emb = rows.toDF("vec_id", "embedding")
    // queries: one mid-cluster member per cluster
    val qPred = (col("vec_id") - 16) % perCluster === 17 && col("vec_id") >= 16
    val k = 5

    // exact reference ranking, computed locally (336 vectors)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = rows.toMap
    val queries = rows.map(_._1).filter(id => id >= 16 && (id - 16) % perCluster == 17)
    val brute = queries.flatMap { q =>
      rows.filter(_._1 != q)
        .map { case (id, v) => (id, BigDecimal(cos(byId(q), v)).setScale(6, BigDecimal.RoundingMode.HALF_UP)) }
        .sortBy { case (id, s) => (-s, id) }.take(k).map(x => (q, x._1))
    }.toSet

    def recallOf(iters: Int, hashSeeds: Boolean, trainBuckets: Int = 10000): Double = {
      val got = Similarity.knnIvfOver(emb, qPred, k, nCentroids = 16, nProbe = 4,
          kmeansIters = iters, hashSeeds = hashSeeds, trainBuckets = trainBuckets)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      brute.count(got.contains).toDouble / brute.size
    }
    val prefixRecall = recallOf(0, hashSeeds = false) // the r2 centroid rule
    val kmeansRecall = recallOf(2, hashSeeds = true)  // the product rule
    assert(kmeansRecall > prefixRecall,
      s"k-means recall $kmeansRecall should beat prefix-seed recall $prefixRecall")
    assert(kmeansRecall >= 0.8, s"k-means recall $kmeansRecall too low on planted clusters")
    // the 100 TB posture: Lloyd on a ~50% md5-bucket sample, assignment on
    // the full corpus — centroids are a statistic, the sample pins them
    val sampledRecall = recallOf(2, hashSeeds = true, trainBuckets = 5000)
    assert(sampledRecall > prefixRecall,
      s"sampled-training recall $sampledRecall should beat prefix-seed recall $prefixRecall")
    assert(sampledRecall >= 0.8, s"sampled-training recall $sampledRecall too low")
  }

  test("LSH ANN recall vs brute force") {
    val brute = Similarity.knnBrute(spark, sf, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = Similarity.knnLsh(spark, sf, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.count(ann.contains).toDouble / brute.size
    // random corpus, 16-bit buckets + multiprobe: recall is approximate by design
    assert(recall >= 0.2, s"ANN recall $recall vs brute")
    assert(ann.size <= 25)
  }

  test("int8 quantization: checksum matches a driver recompute; error bounded by one scale step (r11)") {
    val q = Similarity.vecQuantize(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .limit(25).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(q.nonEmpty && vecs.nonEmpty)
    vecs.foreach { case (id, v) =>
      val (nDims, scaleMicro, nSat, codeSum) = q(id)
      assert(nDims === v.length.toLong)
      val mx = v.map(x => math.abs(x.toDouble)).max
      val scale = mx / 127.0
      assert(scaleMicro === math.floor(scale * 1000000.0).toLong)
      val codes = v.map(x => (x.toDouble / scale).toLong) // JVM toLong truncates like the engines
      assert(codeSum === codes.sum)
      assert(nSat === codes.count(c => math.abs(c) == 127).toLong)
      // every code reconstructs within one quantization step
      v.zip(codes).foreach { case (x, c) =>
        assert(math.abs(x.toDouble - c * scale) <= scale + 1e-12)
      }
      assert(codes.forall(c => math.abs(c) <= 127))
    }
    // map-only plan: no exchange anywhere below the final sort
    val plan = Similarity.vecQuantize(spark, sf).queryExecution.sparkPlan
    val exchanges = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(exchanges.size <= 1, "quantization must not shuffle (final orderBy only)")
  }

  test("knn label agreement: confusion counts conserve queries; majority replay matches (r11)") {
    val conf = Similarity.knnLabelAgreement(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(conf.nonEmpty)
    // every query lands in exactly one confusion cell
    assert(conf.map(_._3).sum ===
      Tables.embeddings(spark, sf).filter(col("vec_id") < 100).count())
    // replay the majority vote from the brute kNN for a few queries
    val labels = Tables.embeddings(spark, sf).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val knn = Similarity.knnBrute(spark, sf, nQueries = 3, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cells = conf.map(c => (c._1, c._2)).toSet
    knn.groupBy(_._1).foreach { case (qid, rs) =>
      val votes = rs.map(r => labels(r._2)).groupBy(identity).map { case (l, v) => l -> v.size }
      val predicted = votes.toSeq.sortBy { case (l, n) => (-n, l) }.head._1
      assert(cells.contains((labels(qid), predicted)),
        s"query $qid: replayed cell (${labels(qid)}, $predicted) missing")
    }
  }

  test("int8 knn: integer scores match a driver recompute; neighborhoods overlap the float path (r11)") {
    val got = Similarity.knnInt8(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.nonEmpty)
    // exact recompute: quantize + integer dot + rank, all on the driver
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def codes(v: Array[Float]): Array[Long] = {
      val mx = v.map(x => math.abs(x.toDouble)).max
      if (mx == 0) Array.fill(v.length)(0L)
      else { val s = mx / 127.0; v.map(x => (x.toDouble / s).toLong) }
    }
    val coded = vecs.map { case (id, v) => id -> codes(v) }
    for (qid <- 0L until 5L) {
      val qc = coded(qid)
      val scored = coded.filter(_._1 != qid).map { case (cid, cc) =>
        (cid, qc.zip(cc).map { case (a, b) => a * b }.sum)
      }.toSeq.sortBy { case (cid, d) => (-d, cid) }.take(5)
      val mine = got.filter(_._1 == qid).sortBy(_._4).map(r => (r._2, r._3)).toSeq
      assert(mine === scored, s"query $qid rank list diverges from recompute")
    }
    // the quantized neighborhood stays close to the float cosine one
    val floatTop = Similarity.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = got.map(r => (r._1, r._2)).count(floatTop.contains).toDouble / got.length
    assert(overlap >= 0.4, s"int8 vs float overlap $overlap")
  }

  test("diversity: moments identity equals the brute pairwise mean; no pair relation in the plan (r13)") {
    val got = Similarity.simDiversity(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    // driver-side brute force: quantize with the same trunc(v / (max|v|/127))
    // rule, then literally average all pairwise squared distances
    val vecs = Tables.embeddings(spark, sf)
      .select(col("label"), col("embedding")).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
    def codes(v: Array[Float]): Array[Long] = {
      val mx = v.map(x => math.abs(x.toDouble)).max
      if (mx == 0.0) Array.fill(v.length)(0L)
      else v.map(x => (x.toDouble / (mx / 127.0)).toLong)
    }
    vecs.groupBy(_._1).foreach { case (label, vs) =>
      val cs = vs.map(v => codes(v._2))
      val n = cs.length
      var ssdPairs = 0L
      for (i <- cs.indices; j <- (i + 1) until n)
        ssdPairs += cs(i).zip(cs(j)).map { case (a, b) => (a - b) * (a - b) }.sum
      val (_, gn, gssd, gdiv) = got.find(_._1 == label).get
      assert(gn === n.toLong)
      // Σ over unordered pairs of d² equals the moments ssd (identity:
      // Σ_d[n·Σq² − (Σq)²] = Σ_{i<j} d²(i,j)... summed over dims)
      assert(gssd === ssdPairs, s"label $label moments vs pairwise")
      val want = if (n < 2) 0.0
        else math.rint(2.0 * ssdPairs / (n.toLong * (n - 1)).toDouble * 1e6) / 1e6
      assert(math.abs(gdiv - want) < 1e-9, s"label $label diversity")
    }
    // and the plan contains NO join at all — the pair relation never exists
    val plan = Similarity.simDiversity(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "diversity must not build a pair relation")
  }

  test("ann recall: hits equal the brute∩ivf intersection per query; recall is one division (r13)") {
    val got = Similarity.annRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(_._1).toSeq === Seq(0L, 1L, 2L, 3L, 4L))
    val brute = Similarity.knnBrute(spark, sf, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    val ivf = Similarity.knnIvf(spark, sf, nQueries = 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
    got.foreach { case (q, kEff, hits, recall) =>
      val truth = brute.getOrElse(q, Array.empty).map(_._2).toSet
      val approx = ivf.getOrElse(q, Array.empty).map(_._2).toSet
      assert(kEff === truth.size.toLong)
      assert(hits === truth.intersect(approx).size.toLong, s"query $q hits")
      assert(math.abs(recall - math.rint(hits.toDouble / kEff * 1e6) / 1e6) < 1e-9)
      assert(hits <= kEff)
    }
  }

  test("diversity: one-pass vec_moments plan equals the posexplode twin bit-for-bit; no Generate (r13)") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rows(Similarity.simDiversity(spark, sf)) ===
      rows(Similarity.simDiversityExplode(spark, sf)))
    val plan = Similarity.simDiversity(spark, sf).queryExecution.executedPlan
    assert(plan.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }.isEmpty, "production diversity must not explode the corpus into dims rows")
    assert(plan.toString.contains("vec_moments"),
      "production diversity must plan the one-pass moments aggregate")
  }

  test("cosine histogram: buckets partition the candidate pairs of cosineDupPairs; bounds hold (r13)") {
    val hist = Similarity.cosineHist(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(hist.nonEmpty)
    // the full candidate set = cosineDupPairs at threshold -1 (cos >= -1
    // admits every scored candidate) — same signature/probe parameters
    val cand = Similarity.cosineDupPairs(spark, sf, threshold = -1.0).collect()
      .map(_.getDouble(2))
    assert(hist.map(_._2).sum === cand.length.toLong,
      "histogram partitions the candidate pair set exactly")
    hist.foreach { case (b, n, lo, hi) =>
      assert(n >= 1L)
      assert(lo <= hi)
      assert(math.floor(lo * 10).toInt === b && math.floor(hi * 10).toInt === b,
        s"bucket $b min/max must floor back into the bucket")
    }
    // driver-side recount per bucket
    val want = cand.groupBy(c => math.floor(c * 10).toInt)
      .map { case (b, xs) => (b, xs.length.toLong, xs.min, xs.max) }
      .toSeq.sortBy(_._1)
    assert(hist.toSeq === want)
  }

  /** Driver-side int8 quantization — the same trunc-toward-zero the
    * engine and the DuckDB oracle apply. */
  private def codesOf(v: Seq[Float]): Array[Long] = {
    val mx = v.map(x => math.abs(x.toDouble)).max
    if (mx == 0.0) Array.fill(v.size)(0L)
    else v.map(x => (x.toDouble / (mx / 127.0)).toLong).toArray
  }

  test("label centroids: one-pass sums equal the per-vector fold; no Generate in the plan (r13)") {
    val df = Similarity.labelCentroids(spark, sf)
    val plan = df.queryExecution.sparkPlan
    assert(plan.collect { case g: org.apache.spark.sql.execution.GenerateExec => g }.isEmpty,
      "centroid moments must not posexplode the corpus")
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val vecs = Tables.embeddings(spark, sf).select("label", "embedding").collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1)))
    val want = vecs.groupBy(_._1).map { case (l, xs) =>
      val sums = xs.map(x => codesOf(x._2)).reduce((a, b) => a.zip(b).map(t => t._1 + t._2))
      l -> ((xs.length.toLong, sums.map(s => s * s).sum))
    }
    rows.foreach { case (l, n, ss, norm) =>
      assert((n, ss) === want(l), s"label $l")
      assert(math.abs(norm - math.sqrt(ss.toDouble) / n) < 1e-6)
    }
  }

  test("centroid outliers: integer distances replay; moments broadcast back onto the corpus (r13)") {
    val df = Similarity.centroidOutliers(spark, sf, k = 10)
    assert(df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => j }.nonEmpty,
      "the |labels|-row moments relation must broadcast")
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val vecs = Tables.embeddings(spark, sf).select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), codesOf(r.getSeq[Float](2))))
    val byLabel = vecs.groupBy(_._2).map { case (l, xs) =>
      l -> (xs.length.toLong, xs.map(_._3).reduce((a, b) => a.zip(b).map(t => t._1 + t._2)))
    }
    val dists = vecs.map { case (id, l, q) =>
      val (n, s) = byLabel(l)
      (id, l, n, q.zip(s).map { case (qi, si) => val d = n * qi - si; d * d }.sum)
    }
    // the reported top-k matches the driver-side ranking by normalized
    // distance (sqrt(A)/n) with vec_id tiebreak
    val wantTop = dists.sortBy { case (id, _, n, a) =>
      (-math.sqrt(a.toDouble) / n, id) }.take(10)
    assert(rows.map(r => (r._1, r._4)).toSeq === wantTop.map(t => (t._1, t._4)).toSeq)
  }

  test("centroid pairs: exact integer dots replay for every label pair; corpus scanned once (r13)") {
    val df = Similarity.centroidPairs(spark, sf)
    // the pair join must be over the reduced |labels| relation — the only
    // joins allowed are broadcast (NLJ for the triangular condition)
    assert(df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.ShuffledJoin => j }.isEmpty,
      "no shuffled join: pairs form over the broadcast |labels| relation")
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6), r.getDouble(7)))
    val vecs = Tables.embeddings(spark, sf).select("label", "embedding").collect()
      .map(r => (r.getInt(0), codesOf(r.getSeq[Float](1))))
    val sums = vecs.groupBy(_._1).map { case (l, xs) =>
      l -> ((xs.length.toLong, xs.map(_._2).reduce((a, b) => a.zip(b).map(t => t._1 + t._2))))
    }
    val labels = sums.keys.toSeq.sorted
    assert(rows.length === labels.size * (labels.size - 1) / 2, "every unordered pair present")
    rows.foreach { case (la, lb, na, nb, dot, n2a, n2b, cos) =>
      assert(la < lb)
      val (wn_a, sa) = sums(la); val (wn_b, sb) = sums(lb)
      assert((na, nb) === ((wn_a, wn_b)))
      assert(dot === sa.zip(sb).map { case (x, y) => x * y }.sum, s"pair ($la,$lb)")
      assert(n2a === sa.map(x => x * x).sum)
      assert(n2b === sb.map(x => x * x).sum)
      if (n2a > 0 && n2b > 0)
        assert(math.abs(cos - dot.toDouble / (math.sqrt(n2a.toDouble) * math.sqrt(n2b.toDouble))) < 1e-6)
    }
  }

  test("gram matrix: every triangle cell replays driver-side; no Generate below the aggregate (r13)") {
    val df = Similarity.gramMatrix(spark, sf)
    // the two unpacking explodes sit ABOVE the one-row aggregate; the
    // corpus-side plan must fold via the blob aggregate, never explode
    val plan = df.queryExecution.sparkPlan
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a }
    assert(aggs.nonEmpty, "vec_gram must plan as ObjectHashAggregate")
    val generatesBelowAgg = aggs.flatMap(_.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g })
    assert(generatesBelowAgg.isEmpty, "no explode below the gram fold")
    val rows = df.collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val codes = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(r => codesOf(r.getSeq[Float](0)))
    val d = codes.head.length
    assert(rows.size === d * (d + 1) / 2, "full upper triangle present")
    for (i <- 0 until d; j <- i until d) {
      val want = codes.map(c => c(i) * c(j)).sum
      assert(rows((i, j)) === want, s"cell ($i,$j)")
    }
  }

  test("norm profile: bands conserve the corpus; every norm2 sits inside its band bounds (r13)") {
    val rows = Similarity.normProfile(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val norms = Tables.embeddings(spark, sf).select("embedding").collect()
      .map(r => codesOf(r.getSeq[Float](0)).map(q => q * q).sum)
    assert(rows.map(_._2).sum === norms.length.toLong, "bands conserve vectors")
    val want = norms.groupBy(n => if (n <= 0) 0L else java.lang.Long.highestOneBit(n))
      .view.mapValues(xs => (xs.length.toLong, xs.min, xs.max)).toMap
    assert(rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap === want)
    rows.filter(_._1 > 0).foreach { case (b, _, lo, hi) =>
      assert(lo >= b && hi < 2 * b, s"band $b bounds [$lo, $hi]")
    }
  }

  test("native int8_codes equals the HOF twin bit-for-bit on the corpus and on edge cases (r13)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // corpus parity: every vector, every element
    val both = Tables.embeddings(spark, sf)
      .select(Similarity.int8CodesHof(col("embedding")).as("hof"),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.Int8Codes(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("embedding")))).as("nat"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // edge cases the corpus can't exercise: empty, all-zero, negative-max,
    // single element, saturating mix
    val edges = Seq(
      Array.empty[Float], Array(0f, 0f, 0f), Array(-2f, 1f, 0.5f),
      Array(3.5f), Array(127f, -127f, 1f, -1f))
    val edf = edges.toDF("embedding")
      .select(Similarity.int8CodesHof(col("embedding")).as("hof"),
        org.apache.spark.sql.graftbridge.ColumnBridge.column(
          graft.functions.Int8Codes(
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(col("embedding")))).as("nat"))
      .collect()
    edf.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
  }

  test("vec aggregate family is SQL-registered; SQL forms equal the DataFrame API (r13)") {
    import spark.implicits._
    val codes = Seq(Array(1L, 2L, 3L), Array(4L, 5L, 6L), Array(-1L, 0L, 2L))
    codes.toDF("c").createOrReplaceTempView("vec_family_probe")
    val m = spark.sql("SELECT vec_moments(c) AS m FROM vec_family_probe")
      .select("m.n_vecs", "m.ssd").collect()(0)
    val s = spark.sql("SELECT vec_sums(c) AS s FROM vec_family_probe")
      .select("s.n_vecs", "s.sums").collect()(0)
    val g = spark.sql("SELECT vec_gram(c) AS g FROM vec_family_probe")
      .select("g.n_vecs", "g.dims", "g.gram").collect()(0)
    val sums = Array(4L, 7L, 11L)
    val s2 = Array(18L, 29L, 49L)
    assert(m.getLong(0) === 3L)
    assert(m.getLong(1) === sums.indices.map(i => 3L * s2(i) - sums(i) * sums(i)).sum)
    assert(s.getLong(0) === 3L)
    assert(s.getSeq[Long](1).toArray.toSeq === sums.toSeq)
    assert(g.getLong(0) === 3L && g.getInt(1) === 3)
    val wantGram = for (i <- 0 until 3; j <- i until 3)
      yield codes.map(c => c(i) * c(j)).sum
    assert(g.getSeq[Long](2).toSeq === wantGram)
  }

  test("ivf probe curve: recall and cost monotone in budget; budget-4 row replays sim_ann_recall exactly (r14)") {
    val rows = Similarity.ivfProbeCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(1, 2, 4, 8), "one row per budget")
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3, "a wider probe can only add candidates")
      assert(b._2 === a._2, "truth size is budget-independent")
      assert(b._5 >= a._5 - 1e-9, "recall is monotone in probe budget")
    }
    // the budget-4 point IS sim_ann_recall's configuration — hit counts
    // must agree exactly (same centroids, same tie-breaks)
    val recallHits = Similarity.annRecall(spark, sf).collect().map(_.getLong(2)).sum
    assert(rows.find(_._1 == 4).get._3 === recallHits,
      "curve at nProbe=4 must replay the fixed-config recall report")
  }

  test("lsh probe curve: recall/cost monotone in radius; radius-2 top-k replays knnLsh exactly (r14)") {
    val rows = Similarity.lshProbeCurve(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.map(_._1).toSeq === Seq(0, 1, 2, 3))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._3 >= a._3 && b._4 >= a._4 && b._5 >= a._5 - 1e-9,
        "hits, candidates and recall are monotone in the probe radius")
    }
    // the radius-2 point IS knnLsh's configuration: hit count against the
    // brute truth must replay (same signatures, same tie-breaks)
    val truth = Similarity.knnBrute(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshHits = Similarity.knnLsh(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).count(truth.contains)
    assert(rows.find(_._1 == 2).get._3 === lshHits.toLong,
      "curve at radius 2 must replay the fixed-config knnLsh hits")
  }

  test("streaming IVF append: exactly-once micro-batches, one drift line each, assignments match the batch path (r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("graft_sivf").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_sivf_cp").toString
    Similarity.buildIvfIndex(
      Tables.embeddings(spark, sf).filter(col("vec_id") < 40),
      dir, nCentroids = 4, kmeansIters = 1)
    val rest = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 40 && col("vec_id") < 80)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.startStreamingIvfAppend(
      ms.toDF().toDF("vec_id", "embedding"), dir, cp,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    try {
      ms.addData(rest.filter(_._1 < 60).toSeq: _*)
      q.processAllAvailable()
      // online compaction RACES the maintainer between batches: cells
      // fragmented by the append fold back to one file each, results
      // untouched (asserted below on the full 80)
      assert(Similarity.compactIvfCells(spark, dir))
      ms.addData(rest.filter(_._1 >= 60).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val cells = ManifestTable.read(spark, s"$dir/cells")
    assert(cells.count() === 80L && cells.select("vec_id").distinct().count() === 80L,
      "build 40 + two streamed batches of 20, no loss, no duplication")
    // one drift line per commit: build baseline + the two micro-batches
    val drift = Similarity.ivfDriftStats(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drift === Map(0L -> 40L, 1L -> 20L, 2L -> 20L))
    // restart replay of the LAST micro-batch is a manifest no-op
    Similarity.appendToIvfIndexBatch(
      rest.filter(_._1 >= 60).toSeq.toDF("vec_id", "embedding"), dir, 2L)
    assert(ManifestTable.read(spark, s"$dir/cells").count() === 80L,
      "a replayed micro-batch must not double-append")
    assert(Similarity.ivfDriftStats(spark, dir).count() === 3L,
      "a replayed micro-batch must not re-record drift")
    // streamed assignments equal the batch path's: nearest-centroid is a
    // pure function of (vector, frozen centroid table)
    val cents = ManifestTable.read(spark, s"$dir/centroids")
    val want = Similarity.withNearestCid(
      Tables.embeddings(spark, sf).filter(col("vec_id") < 80), cents)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = cells.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    // the maintained index serves
    val served = Similarity.knnIvfIndexed(spark, dir,
      Tables.embeddings(spark, sf).filter(col("vec_id") < 2), k = 3, nProbe = 2)
    assert(served.count() > 0)
    // final compaction: every cell folds to one file; assignments,
    // drift history and serving results are compaction-invisible
    val servedRows = served.collect().map(_.toSeq).toSeq
    assert(Similarity.compactIvfCells(spark, dir))
    val (_, filesAfter) = ManifestTable.snapshot(s"$dir/cells")
    val perCell = filesAfter.groupBy(f => f.substring(0, f.lastIndexOf('/')))
    assert(perCell.values.forall(_.size <= 1),
      s"every cell must fold to one file, got ${perCell.view.mapValues(_.size).toMap}")
    assert(ManifestTable.read(spark, s"$dir/cells").count() === 80L)
    assert(Similarity.ivfDriftStats(spark, dir).count() === 3L)
    val servedAfter = Similarity.knnIvfIndexed(spark, dir,
      Tables.embeddings(spark, sf).filter(col("vec_id") < 2), k = 3, nProbe = 2)
      .collect().map(_.toSeq).toSeq
    assert(servedAfter === servedRows, "compaction must be result-invisible")
  }

  test("streaming LSH append: exactly-once micro-batches; compaction result-invisible; serving matches batch build (r14)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    import graft.streaming.ManifestTable
    val dir = java.nio.file.Files.createTempDirectory("graft_slsh").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_slsh_cp").toString
    Similarity.buildLshIndex(
      Tables.embeddings(spark, sf).filter(col("vec_id") < 40), dir, bits = 8)
    val rest = Tables.embeddings(spark, sf)
      .filter(col("vec_id") >= 40 && col("vec_id") < 80)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, Seq[Float])]
    val q = Similarity.startStreamingLshAppend(
      ms.toDF().toDF("vec_id", "embedding"), dir, cp, bits = 8,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
    try {
      ms.addData(rest.filter(_._1 < 60).toSeq: _*)
      q.processAllAvailable()
      assert(Similarity.compactLshBuckets(spark, dir))
      ms.addData(rest.filter(_._1 >= 60).toSeq: _*)
      q.processAllAvailable()
    } finally q.stop()
    val idx = ManifestTable.read(spark, s"$dir/buckets")
    assert(idx.count() === 80L && idx.select("vec_id").distinct().count() === 80L)
    // the maintained index serves identically to a one-shot batch build
    // over the same 80 vectors (signatures are a pure function)
    val batchDir = java.nio.file.Files.createTempDirectory("graft_slsh_b").toString
    Similarity.buildLshIndex(
      Tables.embeddings(spark, sf).filter(col("vec_id") < 80), batchDir, bits = 8)
    val qs = Tables.embeddings(spark, sf).filter(col("vec_id") < 3)
    val servedStream = Similarity.knnLshIndexed(spark, dir, qs, k = 5,
      bits = 8, probeDist = 2).collect().map(_.toSeq).toSeq
    val servedBatch = Similarity.knnLshIndexed(spark, batchDir, qs, k = 5,
      bits = 8, probeDist = 2).collect().map(_.toSeq).toSeq
    assert(servedStream.nonEmpty && servedStream === servedBatch)
    // final compaction folds each bucket to one file, results untouched
    assert(Similarity.compactLshBuckets(spark, dir))
    val (_, filesAfter) = ManifestTable.snapshot(s"$dir/buckets")
    assert(filesAfter.groupBy(f => f.substring(0, f.lastIndexOf('/')))
      .values.forall(_.size <= 1))
    val servedAfter = Similarity.knnLshIndexed(spark, dir, qs, k = 5,
      bits = 8, probeDist = 2).collect().map(_.toSeq).toSeq
    assert(servedAfter === servedStream)
  }

  test("long-vector kernels reject null ELEMENTS with a typed error; dense nullable-typed input still works (r14)") {
    import spark.implicits._
    // containsNull=true by type (Option elements), but DENSE data: the
    // checked kernel path must produce the same answers, not an error
    val dense = Seq((Array[java.lang.Long](1L, 2L, 3L), Array[java.lang.Long](4L, 5L, 6L)))
      .toDF("a", "b")
    dense.createOrReplaceTempView("vk_dense")
    assert(spark.sql("SELECT dot_longs(a, b) d FROM vk_dense").head().getLong(0) === 32L)
    assert(spark.sql("SELECT sum_sq_longs(a) s FROM vk_dense").head().getLong(0) === 14L)
    assert(spark.sql("SELECT vec_sums(a).sums FROM vk_dense")
      .head().getSeq[Long](0) === Seq(1L, 2L, 3L))
    // a null element: typed IllegalArgumentException naming the fix, not
    // an opaque NPE (toLongArray) or a silent 0 (getLong) — the r13
    // advice finding
    val holed = Seq((Array[java.lang.Long](1L, null, 3L), Array[java.lang.Long](4L, 5L, 6L)))
      .toDF("a", "b")
    holed.createOrReplaceTempView("vk_holed")
    for (q <- Seq("SELECT dot_longs(a, b) FROM vk_holed",
      "SELECT sum_sq_longs(a) FROM vk_holed",
      "SELECT vec_sums(a) FROM vk_holed",
      "SELECT vec_moments(a) FROM vk_holed",
      "SELECT vec_gram(a) FROM vk_holed")) {
      val e = intercept[Exception](spark.sql(q).collect())
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      assert(msgs(e).exists(m => m.contains("null element") && m.contains("array_compact")),
        s"$q: expected the typed dense-array error, got ${msgs(e).mkString(" | ")}")
    }
  }

  test("pca power iteration recovers a planted dominant direction; deterministic; trace replays (r15)") {
    import spark.implicits._
    val dir2 = java.nio.file.Files.createTempDirectory("graft_pca").toString
    // planted: strong ±1 component on axis 0, weak deterministic noise
    // elsewhere — the top principal direction is e0 by construction
    val rows = (0L until 200L).map { id =>
      val sign = if (id % 2 == 0) 1.0f else -1.0f
      val emb = Array.tabulate(64) { p =>
        if (p == 0) sign
        else ((id * 31 + p * 7) % 21 - 10).toFloat / 1000.0f
      }
      (id, emb, (id % 10).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir2/embeddings.parquet")
    val out = graft.operators.Similarity.pcaPower(spark, dir2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.length === 64)
    val v = out.sortBy(_._1).map(_._2)
    // dominant axis: |v_0| is the max-normalized 2^20 component and every
    // other axis stays an order of magnitude below it
    assert(math.abs(v(0)) === 1048576L,
      "planted axis should carry the max-normalized component")
    v.drop(1).foreach(x => assert(math.abs(x) < 104858L,
      s"off-axis component $x too large — iteration failed to converge"))
    // trace replays exactly from the collected int8 codes
    val codes = Tables.embeddings(spark, dir2)
      .selectExpr("int8_codes(embedding) AS c").collect().map(_.getSeq[Long](0))
    val wantTrace = codes.map(c => c.map(x => x * x).sum).sum
    assert(out.head._4 === wantTrace, "gram trace diverged")
    // eigenvalue magnitude is bounded by the spectrum: lambda <= trace*2^20
    assert(out.head._3 > 0L && out.head._3 <= wantTrace * 1048576L)
    // deterministic end to end
    val again = graft.operators.Similarity.pcaPower(spark, dir2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(again === out)
    // projection histogram: conserves the corpus, bucket ids in range,
    // per-bucket extrema ordered; planted ± signs split the mass into
    // (at least) the two sign lobes
    val hist = graft.operators.Similarity.pcaProject(spark, dir2).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hist.map(_._2).sum === 200L)
    assert(hist.forall { case (b, n, mn, mx) =>
      b >= 0 && b <= 19 && n > 0 && mn <= mx
    })
    assert(hist.length >= 2, "sign lobes should land in different buckets")
  }

  test("nearest-centroid kernel equals the interpreted HOF argmax bit-for-bit, incl. NaN/tie edges (r15)") {
    import spark.implicits._
    // corpus + edge rows: an all-zero vector (NaN cosine against every
    // centroid — NaN is GREATEST in Spark's double order, ties resolve
    // to the lowest cid) and an exact copy of a corpus vector
    val corpus = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val dup = corpus.limit(1).select(lit(900000L).as("vec_id"), col("embedding"))
    val zero = Seq((900001L, Array.fill(64)(0.0f))).toDF("vec_id", "embedding")
    val emb = corpus.unionByName(dup).unionByName(zero)
    val cents = Similarity.kmeansCentroids(corpus, 8, 2)
    def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val got = Similarity.withNearestCid(emb, cents)
      .select("vec_id", "cid", "assign_cos").collect()
      .map(r => (r.getLong(0), (r.getLong(1), bits(r.getDouble(2))))).toMap
    // the HOF twin, spelled exactly as the pre-r15 interpreted operator
    val arr = cents.agg(collect_list(struct(col("cid"), col("c_emb"))).as("cents_arr"))
    val scored = transform(col("cents_arr"), c =>
      struct(round(Similarity.cosine(col("embedding"), c.getField("c_emb")), 6).as("cos"),
        (-c.getField("cid")).as("ncid")))
    val bestE = aggregate(scored,
      struct(lit(Double.NegativeInfinity).as("cos"), lit(Long.MinValue).as("ncid")),
      (acc, x) => when(x > acc, x).otherwise(acc))
    val want = emb.crossJoin(broadcast(arr))
      .withColumn("__best", bestE)
      .select(col("vec_id"), (-col("__best").getField("ncid")).as("cid"),
        col("__best").getField("cos").as("assign_cos"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), bits(r.getDouble(2))))).toMap
    assert(got.size === want.size)
    got.foreach { case (id, v) =>
      assert(v === want(id), s"assignment diverged for vec $id")
    }
    // the zero vector's NaN cosine must win with the LOWEST cid
    val minCid = cents.select("cid").collect().map(_.getLong(0)).min
    assert(got(900001L)._1 === minCid)
  }
}
