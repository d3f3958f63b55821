package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.flow.FlowGen
import graft.sources.ProtoCodec
import graft.streaming.{FlowStreams, ManifestTable}

/** The 100×-scale proof run (r2 verdict action 1): everything above sf0.1
  * was argued from plan shape over ~600k rows; this main converts the
  * argument into evidence by pushing 50M+ generated flow records through
  * the REAL pipeline — wire bytes on disk → streaming decode → raw MV +
  * 5-min rollup MV (manifest-committed, exactly-once) → ONLINE compaction
  * racing the stream → the dashboard query set over the ingested table —
  * and reporting wall-times + rows/s next to the reference's >100k
  * flows/s production anchor (`/root/reference/README.md:91-92`).
  *
  * Row count via SPARK_GRAFT_SCALE_ROWS (default 50M ≈ 83× the sf0.1
  * table; ~3.6 GB of wire bytes, 5.8 simulated days of event time).
  * Writes one JSON line and, at the default row count, BENCH_scale.json;
  * a run at any other row count (a smoke run) only prints its line.
  */
object BenchScale {

  /** The row count `BENCH_scale.json` records. */
  private val DefaultRows = 50000000L

  /** Streaming ingest micro-batches carry `genFiles / IngestTriggerDiv`
    * wire files each. */
  private val IngestTriggerDiv = 16

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Direct-I/O storage probe (r16 verdict #1): sequential write then
    * read of `mb` MiB through O_DIRECT — page cache bypassed both ways —
    * on the SAME filesystem the scale tables land on, so the committed
    * artifact carries the box state its ingest number was measured
    * under. Prior rounds' 7× run-to-run ingest swings on identical code
    * were storage-side; with (write, read) MB/s embedded in
    * BENCH_scale.json the "box-degraded, not code-regressed" claim is
    * machine-checkable instead of asserted. Falls back to buffered+fsync
    * (labeled) if the filesystem refuses O_DIRECT. */
  private def ioProbe(dir: java.nio.file.Path, mb: Int = 256)
      : (Double, Double, String) = {
    import java.nio.file.StandardOpenOption._
    val f = dir.resolve("ioprobe.bin")
    val block = 1 << 20
    val raw = java.nio.ByteBuffer.allocateDirect(block + 8192).alignedSlice(4096)
    raw.limit(block)
    while (raw.hasRemaining) raw.put(0x5A.toByte)
    def run(opts: Seq[java.nio.file.OpenOption], mode: String)
        : (Double, Double, String) = {
      val wch = java.nio.channels.FileChannel.open(f,
        (Seq[java.nio.file.OpenOption](CREATE, WRITE, TRUNCATE_EXISTING) ++ opts): _*)
      val t0 = System.nanoTime()
      var i = 0
      while (i < mb) {
        raw.rewind()
        while (raw.hasRemaining) wch.write(raw)
        i += 1
      }
      wch.force(true)
      wch.close()
      val wSec = (System.nanoTime() - t0) / 1e9
      val rch = java.nio.channels.FileChannel.open(f,
        (Seq[java.nio.file.OpenOption](READ) ++ opts): _*)
      val t1 = System.nanoTime()
      // reset limit to the aligned block each pass: clear() alone would
      // expose the slice's unaligned tail capacity to an O_DIRECT read
      raw.clear(); raw.limit(block)
      while (rch.read(raw) > 0) { raw.clear(); raw.limit(block) }
      rch.close()
      val rSec = (System.nanoTime() - t1) / 1e9
      java.nio.file.Files.deleteIfExists(f)
      (mb / wSec, mb / rSec, mode)
    }
    try run(Seq(com.sun.nio.file.ExtendedOpenOption.DIRECT), "direct")
    catch { case scala.util.control.NonFatal(_) =>
      java.nio.file.Files.deleteIfExists(f)
      // ADVICE r17: in this mode the read leg re-reads the file just
      // written, so it measures page cache, not the device — the mode
      // label must say so, or before/after probe deltas can't support
      // box-state claims
      run(Seq.empty, "buffered+fsync(read_cached)")
    }
  }

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", DefaultRows.toString).toLong
    // BENCH_scale.json holds the default-row-count run; other sizes print only
    val artifact = Option.when(n == DefaultRows)(java.nio.file.Paths.get("BENCH_scale.json"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val genFiles = 256
    // the shipped session (extensions, local file system), with this
    // run's own overrides
    val spark = GraftSession.builder(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // NOTE (r18 forensics): the ingest window's 90%+ kernel-time storms
      // stack-sample to mmap-based transferTo in
      // BypassMergeSortShuffleWriter's segment concat; an A/B with
      // spark.file.transferTo=false measured NO win (154.8k vs 195.3k
      // rows/s on adjacent windows), so the default stays — the storm
      // correlates with, but does not gate, throughput here.
      // ObjectHashAggregate falls back to SORT-based aggregation after
      // this many distinct groups per partition. The wide-group sketch
      // rows (15M (day, src) groups) live far past it. The r19 A/B is
      // done: raising it to 1M made scale_flow_port_scan_sketch 1.8x
      // slower at 50M (678.7 s vs 383.9 s; the live Union objects in the
      // hash map cost more than the sort), so it stays at Spark's 128
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "128")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val work = java.nio.file.Files.createTempDirectory("graft_scale")
    val wireDir = work.resolve("wire").toString
    val rawTable = work.resolve("flows_raw").toString
    val rollupTable = work.resolve("flows_5m").toString
    val checkpoint = work.resolve("cp").toString
    new java.io.File(wireDir).mkdirs()

    // TARGETED REFRESH MODE: SPARK_GRAFT_SCALE_ONLY=<substr,substr,…>
    // skips the wire/streaming/skew stages (everything that needs the
    // ingested raw table) and runs only the fam-corpus bench rows whose
    // name contains one of the substrings, then MERGES the measured
    // medians into the existing BENCH_scale.json instead of overwriting
    // it — so a single-operator fix (e.g. a serving-path rewrite) can
    // refresh its stale 50M row without paying the full ~15-min run.
    val only: Seq[String] = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(Seq.empty)
    // INGEST REFRESH MODE: SPARK_GRAFT_SCALE_INGEST_ONLY=1 runs ONLY
    // stage 0–2 (wire gen → streaming ingest → reconcile) plus the
    // bracketing io probes, and merges the result as an `ingest_refresh`
    // object into the existing BENCH_scale.json — provenance-labeled, so
    // a later healthy-box window can re-prove the 100k anchor without
    // paying the ~90-min full run (r16 verdict #1).
    val ingestOnly = sys.env.get("SPARK_GRAFT_SCALE_INGEST_ONLY").exists(_ == "1")
    val fullRun = only.isEmpty
    def wanted(name: String): Boolean =
      !ingestOnly && (fullRun || only.exists(name.contains))

    def consume(df: DataFrame): Unit =
      df.foreachPartition { (_: Iterator[org.apache.spark.sql.Row]) => () }
    val queries = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def bench(name: String)(df: => DataFrame): Unit = if (wanted(name)) {
      val (_, s) = timed(consume(df))
      queries(name) = s
    }

    // everything except fam_rows/fam_gen_sec/queries — assembled inside
    // the full-run stages (their stats are local to that path)
    var fullPrefix: Option[String] = None

    // stages 0–2 shared by the full run and the ingest-refresh mode:
    // generate the wire corpus, stream it through the one-decode →
    // raw MV + rollup MV cascade with the online compactor racing,
    // bracket with io probes, final-compact, reconcile. Returns every
    // measured number the JSON needs.
    def ingestLeg(): (Double, Double, Double, Int, Long, Long,
        Double, Double, Double, Double, String) = {
      // ---- stage 0a: box-state probe (r16 verdict #1) -------------------
      val (ioW0, ioR0, ioMode) = ioProbe(work)
      println(f"[scale] io probe before: write $ioW0%.0f MB/s, read $ioR0%.0f MB/s ($ioMode)")
      // ---- stage 0: generate + frame the wire corpus onto disk ----------
      // (the mocker's job — measured separately, not part of ingest time)
      val (_, genSec) = timed {
        FlowGen.flows(spark, n, seed = 1234L, numPartitions = genFiles)
          .mapPartitions { it =>
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val out = new java.io.BufferedOutputStream(
              new java.io.FileOutputStream(f"$wireDir/payload_$pid%05d.bin"), 1 << 20)
            var c = 0L
            it.foreach { m => val b = ProtoCodec.encodeDelimited(m); out.write(b, 0, b.length); c += 1 }
            out.close()
            Iterator.single(c)
          }.reduce(_ + _)
      }

      // ---- stage 1: streaming ingest, raw MV + rollup MV, exactly-once --
      // one decode feeds both MVs (ClickHouse's one-insert-two-MVs
      // topology); manifest commits make every batch atomic and
      // online-compactable.
      // r17 verdict #1 (the REAL CPU ceiling): the binaryFile source
      // packs whole files into <=128MB scan partitions, so a 32-file
      // micro-batch decoded on ~4 tasks — 28 cores idle through the
      // protobuf decode that feeds every downstream stage. Pin
      // maxPartitionBytes to ~one wire file so each file is its own
      // decode task; restored by the caller after the ingest stages.
      spark.conf.set("spark.sql.files.maxPartitionBytes", "4m")
      val compactions = new java.util.concurrent.atomic.AtomicInteger(0)
      val (_, ingestSec) = timed {
        // maxFilesPerTrigger is a SOURCE option — on the sink Spark
        // ignores it silently and the whole corpus would ingest as one
        // micro-batch. genFiles/16 (not /8): the 32-way decode above
        // runs 8x more concurrent partial-agg maps and parquet writers
        // than the old 4-partition scan, so the same trigger size that
        // fit before OOMs the default heap at 50M — half-size batches
        // restore the headroom (measured: /8 OOMs at 12g, /16 fits 8g).
        // The r19 fewer/larger-batches A/B is done: /8 read 190.8k rows/s
        // at 50M, but its /16 control landed on a degraded-storage window
        // (write probe 181 vs 406 MB/s), so no change was justified and
        // /16 stays (a divisor under 16 also needs a raised driver heap).
        val stream = ProtoCodec.binaryFileStream(spark, wireDir,
          Map("maxFilesPerTrigger" -> (genFiles / IngestTriggerDiv).toString)).toDF()
        val q = FlowStreams.startBatches(stream, checkpoint,
            FlowStreams.SparkDefaultTrigger) { (batch, id) =>
          val b = batch.persist()
          try {
            // r17 verdict #1: repartitionForWrite keeps every core
            // encoding parquet while bounding the batch to ~one file
            // per task — the low-amp A/B's 30x file reduction WITHOUT
            // its 6-task CPU ceiling (salt = the cheap sequence key)
            ManifestTable.append(
              Storage.repartitionForWrite(FlowStreams.projectRaw(b),
                "event_date", cpus.toInt, Some(col("sequenceNum"))),
              rawTable, Some("event_date"), id, Some("timeReceived"))
            ManifestTable.append(FlowStreams.rollupPartials(b), rollupTable, Some("event_date"), id,
              Some("timeslot"))
          } finally { b.unpersist(); () }
        }
        // online compaction RACES the running stream (r2 had to stop it).
        // The stop flag (not q.isActive) serializes against the FINAL
        // compaction below — and even a true overlap is safe now: a swap
        // whose snapshot went stale aborts instead of double-applying
        val stopCompactor = new java.util.concurrent.atomic.AtomicBoolean(false)
        val compactor = new Thread(() => {
          while (!stopCompactor.get()) {
            Thread.sleep(3000)
            if (!stopCompactor.get() && ManifestTable.snapshot(rawTable)._2.nonEmpty) {
              val a = FlowStreams.compactRawOnline(spark, rawTable, filesPerPartition = 4)
              val b = FlowStreams.optimizeRollupOnline(spark, rollupTable)
              if (a && b) compactions.incrementAndGet()
            }
          }
        })
        compactor.setDaemon(true)
        compactor.start()
        q.processAllAvailable()
        q.stop()
        stopCompactor.set(true)
        // unbounded join: a timed-out join would let the grace-0 vacuum
        // below race the compactor's in-flight staging
        compactor.join()
      }

      // re-probe right after the ingest window: the pair brackets the
      // measurement — a healthy-before / degraded-after pair explains a
      // slow ingest as box contention, matching pairs pin it on the code
      val (ioW1, ioR1, _) = ioProbe(work)
      println(f"[scale] io probe after ingest: write $ioW1%.0f MB/s, read $ioR1%.0f MB/s")

      // final compaction + vacuum to the steady-state layout
      val (_, compactSec) = timed {
        FlowStreams.compactRawOnline(spark, rawTable, filesPerPartition = 4)
        FlowStreams.optimizeRollupOnline(spark, rollupTable)
        ManifestTable.vacuum(rawTable, graceSeconds = 0)
        ManifestTable.vacuum(rollupTable, graceSeconds = 0)
      }

      // ---- stage 2: reconcile (no loss, no duplication) -----------------
      val rawRows = FlowStreams.readRawManaged(spark, rawTable).count()
      val rollupFlows = ManifestTable.read(spark, rollupTable)
        .agg(sum("flow_count")).head().getLong(0)
      require(rawRows == n, s"raw table lost rows: $rawRows of $n")
      require(rollupFlows == n, s"rollup lost flows: $rollupFlows of $n")
      (genSec, ingestSec, compactSec, compactions.get, rawRows, rollupFlows,
        ioW0, ioR0, ioW1, ioR1, ioMode)
    }

    if (ingestOnly) {
      val (genSec, ingestSec, compactSec, nCompactions, rawRows, rollupFlows,
        ioW0, ioR0, ioW1, ioR1, ioMode) = ingestLeg()
      val rate = (n / ingestSec).toLong
      val refresh =
        f"""{"rows":$n,"gen_sec":$genSec%.1f,"ingest_sec":$ingestSec%.1f,""" +
        f""""trigger_div":$IngestTriggerDiv,""" +
        f""""ingest_rows_per_sec":$rate,"final_compact_sec":$compactSec%.1f,""" +
        f""""online_compactions_during_ingest":$nCompactions,""" +
        f""""raw_rows":$rawRows,"rollup_flow_count":$rollupFlows,""" +
        f""""io_probe":{"mode":"$ioMode","mb":256,""" +
        f""""before":{"write_mb_per_sec":$ioW0%.1f,"read_mb_per_sec":$ioR0%.1f},""" +
        f""""after_ingest":{"write_mb_per_sec":$ioW1%.1f,"read_mb_per_sec":$ioR1%.1f}}}"""
      println(s"""{"metric":"scale_ingest_refresh","refresh":$refresh}""")
      artifact.foreach { f =>
        try {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val root =
            if (java.nio.file.Files.exists(f))
              mapper.readTree(java.nio.file.Files.readString(f))
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            else mapper.createObjectNode()
          root.set[com.fasterxml.jackson.databind.JsonNode](
            "ingest_refresh", mapper.readTree(refresh))
          java.nio.file.Files.writeString(f, mapper.writeValueAsString(root) + "\n")
          ()
        } catch { case e: Throwable =>
          System.err.println(s"[bench-scale] ingest refresh merge failed: ${e.getMessage}")
        }
      }
      Storage.deleteTree(work)
      spark.stop()
      return
    }

    if (fullRun) {
    val (genSec, ingestSec, compactSec, nCompactions, rawRows, rollupFlows,
      ioW0, ioR0, ioW1, ioR1, ioMode) = ingestLeg()
    val raw = FlowStreams.readRawManaged(spark, rawTable)

    // ---- stage 1b: LOW-WRITE-AMPLIFICATION ingest A/B (r16 verdict #1) --
    // Same wire corpus, same MV cascade, three write-path changes a
    // degraded-storage deployment would make: (1) each micro-batch
    // repartitions the raw projection by event_date before the append —
    // one file per (date, batch) instead of one per (input split, date),
    // ~30x fewer files and larger sequential writes; (2) parquet zstd
    // instead of snappy (~40% fewer bytes through the throttled device);
    // (3) no online compaction racing the ingest window — the rewrite
    // amplification moves to the off-peak final compaction, which stage
    // 1 already measures separately. The bracketing io probes make the
    // comparison honest: if the device recovered between the two legs
    // the probes say so; matching degraded probes pin any delta on the
    // write path itself.
    val (ioW2, ioR2, _) = ioProbe(work)
    println(f"[scale] io probe before lowamp: write $ioW2%.0f MB/s, read $ioR2%.0f MB/s")
    def dirMb(p: String): Long = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0L
      else {
        val s = java.nio.file.Files.walk(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
            .map(java.nio.file.Files.size).sum >> 20
        } finally s.close()
      }
    }
    val rawTableB = work.resolve("flows_raw_lowamp").toString
    val rollupTableB = work.resolve("flows_5m_lowamp").toString
    val checkpointB = work.resolve("cp_lowamp").toString
    val oldCodec = spark.conf.get("spark.sql.parquet.compression.codec", "snappy")
    val (_, ingestLowampSec) = timed {
      spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
      try {
        val stream = ProtoCodec.binaryFileStream(spark, wireDir,
          Map("maxFilesPerTrigger" -> (genFiles / 8).toString)).toDF()
        val q = FlowStreams.startBatches(stream, checkpointB,
            FlowStreams.SparkDefaultTrigger) { (batch, id) =>
          val b = batch.persist()
          try {
            ManifestTable.append(
              FlowStreams.projectRaw(b).repartition(col("event_date")),
              rawTableB, Some("event_date"), id, Some("timeReceived"))
            ManifestTable.append(FlowStreams.rollupPartials(b),
              rollupTableB, Some("event_date"), id, Some("timeslot"))
          } finally { b.unpersist(); () }
        }
        q.processAllAvailable()
        q.stop()
      } finally spark.conf.set("spark.sql.parquet.compression.codec", oldCodec)
    }
    val rawRowsB = FlowStreams.readRawManaged(spark, rawTableB).count()
    require(rawRowsB == n, s"lowamp raw table lost rows: $rawRowsB of $n")
    val rollupFlowsB = ManifestTable.read(spark, rollupTableB)
      .agg(sum("flow_count")).head().getLong(0)
    require(rollupFlowsB == n, s"lowamp rollup lost flows: $rollupFlowsB of $n")
    val lowampFiles = ManifestTable.snapshot(rawTableB)._2.size
    val lowampMb = dirMb(rawTableB)
    val lowampRate = (n / ingestLowampSec).toLong
    println(f"[scale] lowamp ingest: $ingestLowampSec%.1f s, $lowampRate rows/s, $lowampFiles files, $lowampMb MB")
    // the A-leg's post-ingest layout for the same comparison: file count
    // from the pre-final-compaction snapshot was consumed by stage 1's
    // compactor; record its steady-state size instead
    val rawMbA = dirMb(rawTable)
    Storage.deleteTree(work.resolve("flows_raw_lowamp"))
    Storage.deleteTree(work.resolve("flows_5m_lowamp"))
    Storage.deleteTree(work.resolve("cp_lowamp"))

    // ---- stage 2b: pipeline_full — ONE topic replay, EVERY streaming tier
    // (r14 verdict #5): raw MV + rollup MV + IVF append + LSH append off
    // one decode (query A), the stateful exact-dedup leg as the concurrent
    // query B (its watermark state lives in the engine), and the online
    // compactors for all four managed layouts racing both. Records
    // end-to-end rows/s next to the single-cascade ingest number.
    val pfRaw = work.resolve("pf_raw").toString
    val pfRollup = work.resolve("pf_rollup").toString
    val pfIvf = work.resolve("pf_ivf").toString
    val pfLsh = work.resolve("pf_lsh").toString
    val pfDedup = work.resolve("pf_dedup").toString
    val pfQuality = work.resolve("pf_quality").toString
    val vecEvery = 1000L; val docEvery = 100L
    import graft.streaming.FlowPipeline
    // the quality model trains OFFLINE on a disjoint generator slice
    // ("yesterday's corpus") and filters the live stream — the deploy loop
    val pfModel = graft.operators.TextOps.trainQualityModelOn(
      FlowPipeline.deriveDocs(
        FlowGen.flows(spark, 100000L, seed = 77L, numPartitions = 8).toDF(),
        docEvery))
    // seed the IVF centroids from a deterministic DISJOINT-id vector set
    // (negative ids can never collide with streamed sequence numbers)
    graft.operators.Similarity.buildIvfIndex(
      FlowPipeline.deriveVecs(
          FlowGen.flows(spark, 100000L, seed = 77L, numPartitions = 8).toDF(), vecEvery)
        .withColumn("vec_id", -col("vec_id") - 1L),
      pfIvf, nCentroids = 16, kmeansIters = 2)
    val pfCompactions = new java.util.concurrent.atomic.AtomicInteger(0)
    val (_, pipeSec) = timed {
      def topic() = ProtoCodec.binaryFileStream(spark, wireDir,
        Map("maxFilesPerTrigger" -> (genFiles / 8).toString)).toDF()
      val qA = FlowPipeline.start(topic(), pfRaw, pfRollup, pfIvf, pfLsh,
        work.resolve("pf_cpA").toString, vecEvery)
      val qB = FlowPipeline.startDedupLeg(topic(), pfDedup,
        work.resolve("pf_cpB").toString, docEvery)
      val qC = FlowPipeline.startQualityLeg(topic(), pfModel, pfQuality,
        work.resolve("pf_cpC").toString, docEvery)
      val stopPf = new java.util.concurrent.atomic.AtomicBoolean(false)
      val pfCompactor = new Thread(() => {
        while (!stopPf.get()) {
          Thread.sleep(3000)
          if (!stopPf.get() && ManifestTable.snapshot(pfRaw)._2.nonEmpty) {
            val a = FlowStreams.compactRawOnline(spark, pfRaw, filesPerPartition = 4)
            val b = FlowStreams.optimizeRollupOnline(spark, pfRollup)
            val c = graft.operators.Similarity.compactIvfCells(spark, pfIvf, filesPerCell = 2)
            val d = graft.operators.Similarity.compactLshBuckets(spark, pfLsh, filesPerBucket = 2)
            if (a && b && c && d) pfCompactions.incrementAndGet()
          }
        }
      })
      pfCompactor.setDaemon(true)
      pfCompactor.start()
      qA.processAllAvailable(); qB.processAllAvailable()
      qC.processAllAvailable()
      qA.stop(); qB.stop(); qC.stop()
      stopPf.set(true)
      pfCompactor.join()
    }
    // reconcile ALL five sinks against the deterministic generator
    val pfRawRows = FlowStreams.readRawManaged(spark, pfRaw).count()
    require(pfRawRows == n, s"pipeline raw lost rows: $pfRawRows of $n")
    val pfRollupFlows = ManifestTable.read(spark, pfRollup)
      .agg(sum("flow_count")).head().getLong(0)
    require(pfRollupFlows == n, s"pipeline rollup lost flows: $pfRollupFlows of $n")
    val genDf = FlowGen.flows(spark, n, seed = 1234L, numPartitions = genFiles).toDF()
    val wantVecs = FlowPipeline.deriveVecs(genDf, vecEvery).count()
    val pfIvfRows = ManifestTable.read(spark, s"$pfIvf/cells")
      .filter(col("vec_id") >= 0).count()
    require(pfIvfRows == wantVecs, s"pipeline IVF lost vectors: $pfIvfRows of $wantVecs")
    val pfLshRows = ManifestTable.read(spark, s"$pfLsh/buckets").count()
    require(pfLshRows == wantVecs, s"pipeline LSH lost vectors: $pfLshRows of $wantVecs")
    val wantDocs = FlowPipeline.deriveDocs(genDf, docEvery).count()
    val wantDistinctTexts = FlowPipeline.deriveDocs(genDf, docEvery)
      .agg(countDistinct(col("text"))).head().getLong(0)
    val pfDedupOut = ManifestTable.read(spark, pfDedup).count()
    val pfDedupDistinct = ManifestTable.read(spark, pfDedup)
      .select("text_md5").distinct().count()
    require(pfDedupOut <= wantDocs && pfDedupDistinct == wantDistinctTexts,
      s"pipeline dedup out $pfDedupOut/$wantDocs, distinct $pfDedupDistinct of $wantDistinctTexts")
    // quality leg scores EVERY derived doc exactly once (keepOnly=false)
    val pfQualityRows = ManifestTable.read(spark, pfQuality).count()
    require(pfQualityRows == wantDocs,
      s"pipeline quality leg scored $pfQualityRows of $wantDocs docs")
    val pfQualityKept = ManifestTable.read(spark, pfQuality)
      .filter(col("q_keep") === 1).count()
    // r17 verdict #2: the gate must DISCRIMINATE at scale, not merely
    // run — a threshold/corpus mismatch that zeroes or saturates the
    // keep split used to pass silently (kept 0 of 500k in r17's
    // artifact); the two-class derived corpus makes both outcomes occur
    // and this reconcile makes a degenerate split a hard failure
    require(pfQualityKept > 0 && pfQualityKept < pfQualityRows,
      s"quality gate is degenerate: kept $pfQualityKept of $pfQualityRows")
    val pipeRate = (n / pipeSec).toLong

    // ---- stage 3: the dashboard set over the ingested table -------------
    // restore the scan-partition packing the ingest stages narrowed (4m
    // would fragment every parquet scan below into thousands of tasks)
    spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")
    bench("scale_top_src_ip") {
      raw.groupBy("srcAddr").agg(sum("bytes").as("sum_bytes"))
        .orderBy(desc("sum_bytes")).limit(10)
    }
    bench("scale_top_pairs") {
      raw.groupBy("srcAS", "dstAS").agg(sum("bytes").as("sum_bytes"), count(lit(1)).as("c"))
        .orderBy(desc("sum_bytes")).limit(10)
    }
    bench("scale_rate_30s") {
      raw.groupBy(((col("timeReceived") / 30).cast("long") * 30).as("slot"))
        .agg(sum("bytes").as("b"), count(lit(1)).as("c"))
    }
    bench("scale_time_filter") {
      // one simulated day out of 5.8: partition pruning + row-group stats
      raw.filter(col("event_date") === "2024-01-02")
        .filter(col("timeReceived") >= 1704153600L && col("timeReceived") < 1704240000L)
        .agg(sum("bytes"), count(lit(1)))
    }
    bench("scale_rollup_readback") {
      FlowStreams.readRollupManaged(spark, rollupTable)
        .groupBy("srcAS").agg(sum("sum_bytes").as("b"))
    }
    bench("scale_quantiles") {
      raw.agg(percentile_approx(col("bytes"), array(lit(0.5), lit(0.95), lit(0.99)), lit(10000)))
    }

    // ---- stage 4: planted-hot-key join — plain vs salted task spread ----
    // Real AS traffic is Zipfian. Plant 90% of the fact rows on ONE key,
    // join a small-but-not-broadcastable dimension both ways with
    // broadcast off, and record wall time + the LONGEST task of each run:
    // the plain hash join serializes the hot key through one task (max
    // task ≈ wall), the salted join spreads it over `salts` sub-keys.
    // the hot key must be INSIDE the dimension's key range: the point of
    // the measurement is the matched hot key's joined rows serializing
    // through one task, not unmatched rows discarded at the join
    val dimKeys = 50000L
    val hotKey = 7L
    val skewed = raw.select(
      when(pmod(xxhash64(col("sequenceNum")), lit(10L)) < 9, lit(hotKey))
        .otherwise(pmod(xxhash64(col("sequenceNum"), lit(7L)), lit(dimKeys))).as("k"),
      col("bytes"))
    val dim = spark.range(dimKeys + 1).select(col("id").as("k"),
      concat(lit("as-name-"), col("id")).as("name"))
    def maxTaskSec(body: => Unit): (Double, Double) = {
      val durations = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskInfo != null) { durations.add(t.taskInfo.duration); () }
      }
      spark.sparkContext.addSparkListener(listener)
      val (_, wall) = try {
        val r = timed(body)
        // task-end events arrive on the async listener bus; the longest
        // task's event is the likeliest to still be queued when the job
        // returns — wait for the queue to quiesce before reading
        var last = -1
        var same = 0
        while (same < 3) {
          Thread.sleep(100)
          val n = durations.size()
          if (n == last) same += 1 else { same = 0; last = n }
        }
        r
      } finally spark.sparkContext.removeSparkListener(listener)
      import scala.jdk.CollectionConverters._
      (wall, durations.asScala.map(_.toLong).maxOption.getOrElse(0L) / 1e3)
    }
    val oldThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val ((plainWall, plainMaxTask), (saltWall, saltMaxTask)) =
      try {
        val plain = maxTaskSec(consume(
          skewed.join(dim, Seq("k")).groupBy("name").agg(sum("bytes").as("b"))))
        val salted = maxTaskSec(consume(
          graft.operators.Skew.saltedEquiJoin(skewed, dim, "k", salts = cpus.toInt)
            .groupBy("name").agg(sum("bytes").as("b"))))
        (plain, salted)
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", oldThreshold)

    val ingestRate = (n / ingestSec).toLong
    fullPrefix = Some(
      f"""{"metric":"scale_total","rows":$n,"gen_sec":$genSec%.1f,"ingest_sec":$ingestSec%.1f,""" +
      f""""ingest_rows_per_sec":$ingestRate,""" +
      f""""io_probe":{"mode":"$ioMode","mb":256,""" +
      f""""before":{"write_mb_per_sec":$ioW0%.1f,"read_mb_per_sec":$ioR0%.1f},""" +
      f""""after_ingest":{"write_mb_per_sec":$ioW1%.1f,"read_mb_per_sec":$ioR1%.1f},""" +
      f""""before_lowamp":{"write_mb_per_sec":$ioW2%.1f,"read_mb_per_sec":$ioR2%.1f}},""" +
      f""""ingest_lowamp":{"sec":$ingestLowampSec%.1f,"rows_per_sec":$lowampRate,""" +
      f""""files":$lowampFiles,"raw_table_mb":$lowampMb,"codec":"zstd",""" +
      f""""per_batch_repartition":true,"online_compaction":false,""" +
      f""""raw_rows":$rawRowsB,"rollup_flow_count":$rollupFlowsB},""" +
      f""""raw_table_mb":$rawMbA,""" +
      f""""final_compact_sec":$compactSec%.1f,""" +
      f""""online_compactions_during_ingest":$nCompactions,""" +
      f""""raw_rows":$rawRows,"rollup_flow_count":$rollupFlows,""" +
      f""""pipeline_full":{"sec":$pipeSec%.1f,"rows_per_sec":$pipeRate,""" +
      f""""online_compactions":${pfCompactions.get},"raw_rows":$pfRawRows,""" +
      f""""vec_index_rows":$pfIvfRows,"dedup_out_rows":$pfDedupOut,""" +
      f""""dedup_distinct_texts":$pfDedupDistinct,""" +
      f""""quality_scored_rows":$pfQualityRows,"quality_kept_rows":$pfQualityKept},""" +
      f""""skew_join":{"hot_frac":0.9,"salts":${cpus.toInt},""" +
      f""""plain_wall_sec":$plainWall%.2f,"plain_max_task_sec":$plainMaxTask%.2f,""" +
      f""""salted_wall_sec":$saltWall%.2f,"salted_max_task_sec":$saltMaxTask%.2f},""" +
      f""""baseline_anchor_rows_per_sec":100000""")
    } // end if (fullRun)

    // ---- stage 5: round-11 operator families at scale (r11 verdict #1) --
    // Synthetic corpora written in the TESTDATA LAYOUT, so the REGISTRY
    // functions run UNCHANGED at ~100× the driver SF: events.parquet
    // drives both the flow adapter (heavy hitters, port scan) and the
    // event-analytics family; documents/embeddings drive text + ANN.
    // Sizes follow the data's natural shape: the 50M-row fact table is
    // events; text documents are ~10× fewer (they are ~10× wider) and
    // embeddings ~25× fewer (64 floats each) — each still ~100×-1000× the
    // sf0.1 table the per-round bench measures.
    val famDir = work.resolve("fam").toString
    val nUsers = math.max(1000L, n / 100L)
    val nDocs = math.max(100000L, n / 10L)
    val nVecs = math.max(100000L, n / 25L)
    val (_, famGenSec) = timed {
      val t0 = 1704067200L
      spark.range(0L, n, 1L, genFiles).select(
          col("id").as("event_id"),
          timestamp_seconds(lit(t0) + pmod(xxhash64(col("id")), lit(30L * 86400L)))
            .cast("timestamp_ntz").as("ts"),
          pmod(xxhash64(col("id"), lit(1)), lit(nUsers)).as("user_id"),
          element_at(
            array(lit("view"), lit("view"), lit("view"), lit("click"), lit("click"),
              lit("signup"), lit("purchase"), lit("error")),
            (pmod(xxhash64(col("id"), lit(2)), lit(8)) + 1).cast("int")).as("event_type"),
          (pmod(xxhash64(col("id"), lit(3)), lit(100000L)).cast("double") / 1000.0 - 50.0)
            .as("value"),
          concat(lit("{\"k\":"), pmod(xxhash64(col("id"), lit(4)), lit(1000L)), lit("}"))
            .as("props"))
        .write.mode("overwrite").parquet(s"$famDir/events.parquet")
      spark.range(0L, nDocs, 1L, genFiles).select(
          col("id").as("doc_id"),
          // 25 tokens from a 5000-word vocabulary + planted PII in 1%
          when(pmod(col("id"), lit(100L)) === 0L,
            concat(
              concat_ws(" ", transform(sequence(lit(0), lit(24)),
                j => concat(lit("w"), pmod(xxhash64(col("id"), j), lit(5000L))))),
              lit(" mail me at user"), col("id"), lit("@example.com or call 555-014-2398")))
            .otherwise(
              concat_ws(" ", transform(sequence(lit(0), lit(24)),
                j => concat(lit("w"), pmod(xxhash64(col("id"), j), lit(5000L))))))
            .as("text"),
          element_at(array(lit("en"), lit("de"), lit("fr")),
            (pmod(xxhash64(col("id"), lit(5)), lit(3)) + 1).cast("int")).as("lang"),
          element_at(array(lit("web"), lit("wiki"), lit("code"), lit("forum")),
            (pmod(xxhash64(col("id"), lit(6)), lit(4)) + 1).cast("int")).as("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .write.mode("overwrite").parquet(s"$famDir/documents.parquet")
      spark.range(0L, nVecs, 1L, genFiles).select(
          col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            j => (pmod(xxhash64(col("id"), j, lit(9)), lit(2001L)).cast("double") / 1000.0 - 1.0)
              .cast("float")).as("embedding"),
          pmod(xxhash64(col("id"), lit(10)), lit(10L)).cast("int").as("label"))
        .write.mode("overwrite").parquet(s"$famDir/embeddings.parquet")
      // nation mirrors the TESTDATA shape (25 rows) so the LPM route
      // dimension derives at scale exactly as in the registry
      spark.range(0L, 25L, 1L, 1).select(
          col("id").as("n_nationkey"),
          concat(lit("NATION_"), col("id")).as("n_name"),
          pmod(col("id"), lit(5L)).as("n_regionkey"))
        .write.mode("overwrite").parquet(s"$famDir/nation.parquet")
    }
    // the SERVING (unguarded) heavy-hitters form: 500k distinct sources
    // per proto is the EVICTION regime — the whole point of the sketch at
    // this scale (the exact-regime guard is oracle plumbing for sf0.01)
    bench("scale_flow_heavy_hitters") {
      graft.flow.FlowQueries.heavyHitters(spark, famDir)
    }
    bench("scale_flow_port_scan") { graft.flow.FlowQueries.portScan(spark, famDir) }
    // Expand-free theta twin (r14): production screening regime
    bench("scale_flow_port_scan_sketch") {
      graft.flow.FlowQueries.portScanSketch(spark, famDir)
    }
    bench("scale_events_dau_wau") { graft.operators.EventOps.dauWau(spark, famDir) }
    // same-data A/B vs the exact form (r14 verdict #2): the sketch twin
    // replaces the 7×-fanned distinct relation + per-day countDistinct
    // Expand with |days| blob unions (strict=false: fact-scale regime)
    bench("scale_events_dau_wau_sketch") {
      graft.operators.EventOps.dauWauSketch(spark, famDir)
    }
    bench("scale_events_retention") { graft.operators.EventOps.retention(spark, famDir) }
    bench("scale_events_funnel") { graft.operators.EventOps.funnel(spark, famDir) }
    bench("scale_text_pii_scrub") { graft.operators.TextOps.piiScrub(spark, famDir) }
    bench("scale_text_ngram_topk") { graft.operators.TextOps.ngramTopK(spark, famDir) }
    bench("scale_sim_knn_int8") { graft.operators.Similarity.knnInt8(spark, famDir) }
    // ANN SERVING tier (r13, verdict #7): materialize the IVF index once
    // (its own timed row — the build cost amortizes over every query
    // after it), then serve a 100-query probe batch from the pruned cell
    // layout. THIS is the per-batch number a 2M-vector deployment pays;
    // the brute/int8 rows above are eval-tier ground-truth baselines.
    val ivfDir = work.resolve("ivf_index").toString
    if (wanted("scale_sim_ivf_index_build") || wanted("scale_sim_knn_ivf_indexed")) {
      val (_, ivfBuildSec) = timed {
        graft.operators.Similarity.buildIvfIndex(
          graft.Tables.embeddings(spark, famDir), ivfDir,
          nCentroids = 64, kmeansIters = 2, trainBuckets = 10000)
      }
      if (wanted("scale_sim_ivf_index_build"))
        queries("scale_sim_ivf_index_build") = ivfBuildSec
      bench("scale_sim_knn_ivf_indexed") {
        graft.operators.Similarity.knnIvfIndexed(spark, ivfDir,
          graft.Tables.embeddings(spark, famDir).filter(col("vec_id") < 100),
          k = 5, nProbe = 8)
      }
    }
    // materialized IVF-PQ index (r16): build (coarse kmeans + PQ train +
    // fused assign/encode pass) and the code-scanning probe serve — the
    // cells hold 64x-smaller codes, so the probed read is the memory
    // story measured
    val ivfPqDir = work.resolve("ivfpq_index").toString
    if (wanted("scale_sim_ivfpq_index_build") ||
        wanted("scale_sim_knn_ivfpq_indexed")) {
      val (_, pqIdxBuildSec) = timed {
        graft.operators.Pq.buildIvfPqIndex(
          graft.Tables.embeddings(spark, famDir), ivfPqDir,
          nCentroids = 64, kmIters = 2, m = 4, nCodes = 256, iters = 2)
      }
      if (wanted("scale_sim_ivfpq_index_build"))
        queries("scale_sim_ivfpq_index_build") = pqIdxBuildSec
      bench("scale_sim_knn_ivfpq_indexed") {
        graft.operators.Pq.knnIvfPqIndexed(spark, ivfPqDir,
          graft.Tables.embeddings(spark, famDir).filter(col("vec_id") < 100),
          k = 5, nProbe = 8)
      }
      // r17 verdict #5: the refine stage at serving scale — the same
      // probed-code nomination plus the id-pruned raw-vector fetch and
      // exact re-rank of 20 candidates/query; the delta vs the indexed
      // row above is the refine's whole serving cost at 2M vectors
      bench("scale_sim_knn_ivfpq_refined") {
        graft.operators.Pq.knnIvfPqRefined(spark, ivfPqDir,
          graft.Tables.embeddings(spark, famDir).filter(col("vec_id") < 100),
          graft.Tables.embeddings(spark, famDir),
          k = 5, nProbe = 8, rerankR = 20)
      }
    }
    // PQ tier (r15): train once (its own timed row, like the IVF build),
    // then the corpus-wide encode — the pass that shrinks the vectors
    // 64x — and a 100-query ADC serve over the codes relation
    if (wanted("scale_sim_pq_train") || wanted("scale_sim_pq_encode") ||
        wanted("scale_sim_knn_pq") || wanted("scale_sim_knn_pq_window")) {
      val (pqModel, pqTrainSec) = timed(
        graft.operators.Pq.train(graft.Tables.embeddings(spark, famDir),
          m = 4, k = 256, iters = 2))
      if (wanted("scale_sim_pq_train"))
        queries("scale_sim_pq_train") = pqTrainSec
      bench("scale_sim_pq_encode") {
        graft.operators.Pq.encoded(
          graft.Tables.embeddings(spark, famDir), pqModel)
      }
      bench("scale_sim_knn_pq") {
        graft.operators.Pq.knnPqOver(
          graft.Tables.embeddings(spark, famDir), pqModel, nQueries = 100, k = 5)
      }
      // the row_number twin on the SAME model/data — the heap-vs-window
      // A/B at the few-groups/huge-group shape (skew-A/B convention:
      // both directions recorded, same run)
      bench("scale_sim_knn_pq_window") {
        graft.operators.Pq.knnPqOver(
          graft.Tables.embeddings(spark, famDir), pqModel, nQueries = 100,
          k = 5, windowRank = true)
      }
    }
    // the composed production stack: coarse cells prune candidates, PQ
    // ADC scores the survivors (includes its own coarse kmeans + train)
    bench("scale_sim_knn_ivfpq") {
      graft.operators.Pq.knnIvfPq(spark, famDir, nQueries = 100, k = 5,
        nCentroids = 64, kmIters = 2, nProbe = 8, m = 4, nCodes = 256,
        iters = 2)
    }
    // residual coding at the same budget (r15): the IVFADC-proper shape —
    // mean-centroid subtract + residual codebooks, same probe pruning
    bench("scale_sim_knn_ivfpq_res") {
      graft.operators.Pq.knnIvfPqRes(spark, famDir, nQueries = 100, k = 5,
        nCentroids = 64, kmIters = 2, nProbe = 8, m = 4, nCodes = 256,
        iters = 2)
    }
    // ---- round-12 additions: sketch set-ops, KLL quantiles, text/event
    // families (strict=false on theta: ~500k distinct/day IS the
    // estimation regime — the sketch's reason to exist at this scale)
    bench("scale_flow_unique_src_overlap") {
      graft.flow.FlowQueries.uniqueSrcOverlap(spark, famDir, strict = false)
    }
    bench("scale_flow_bytes_quantiles_kll") {
      graft.flow.FlowQueries.bytesQuantilesKll(spark, famDir)
    }
    bench("scale_text_gopher_quality") { graft.operators.TextOps.gopherQuality(spark, famDir) }
    bench("scale_text_tfidf_topk") { graft.operators.TextOps.tfidfTopK(spark, famDir) }
    // r15: BM25 retrieval (broadcast 8-term query onto the tf relation)
    // and the bigram-LM NLL screen (vocab²-bounded count join) at 5M docs
    bench("scale_text_bm25_topk") { graft.operators.TextOps.bm25TopK(spark, famDir) }
    bench("scale_text_lm_nll") { graft.operators.TextOps.lmNll(spark, famDir) }
    // r15: the PCA top-direction fold at 2M vectors (one Gram pass +
    // driver power iteration — the gram row's promised consumer)
    bench("scale_sim_pca_power") { graft.operators.Similarity.pcaPower(spark, famDir) }
    bench("scale_sim_pca_project") { graft.operators.Similarity.pcaProject(spark, famDir) }
    bench("scale_text_pmi_topk") { graft.operators.TextOps.pmiTopK(spark, famDir) }
    bench("scale_text_bow_dedup") { graft.operators.TextOps.bowDedup(spark, famDir) }
    bench("scale_text_len_pctiles") { graft.operators.TextOps.lenPctiles(spark, famDir) }
    // 5M-doc tokenizer census (r14 verdict #4): map-side native kernel,
    // worst-case vocab-miss-heavy text (the generated w<id> words barely
    // match the default vocabulary, so most positions probe every length)
    bench("scale_text_tokenize") { graft.operators.TextOps.tokenize(spark, famDir) }
    bench("scale_text_pack_tokens") { graft.operators.TextOps.packDocsTokens(spark, famDir) }
    // trained quality filter (r15): distributed retrain (one tid-grain
    // exchange) + the fused single-scan rescore — the full distill cycle
    bench("scale_text_quality_model") {
      graft.operators.TextOps.qualityModelScores(spark, famDir)
    }
    // corpus-trained BPE at 5M docs (r16 verdict #7): training pays ONE
    // corpus-sized word-count aggregate, then 8 rounds of windowed
    // rewrites over the vocabCap-BOUNDED relation (the claimed shape,
    // now measured); encode is the one-pass native longest-match kernel
    // over the learned vocabulary — train once, shared (the knnPqOver
    // split)
    if (wanted("scale_text_bpe_train") || wanted("scale_text_bpe_encode")) {
      val (bpeMerges, bpeTrainSec) = timed(
        graft.operators.Bpe.trainedMergesFor(spark, famDir,
          rounds = 8, vocabCap = 1000))
      if (wanted("scale_text_bpe_train"))
        queries("scale_text_bpe_train") = bpeTrainSec
      bench("scale_text_bpe_encode") {
        graft.operators.Bpe.bpeEncodeOver(spark, famDir, bpeMerges)
      }
    }
    // 5M-media feature-space rows (r14 verdict #1): near-dup candidates
    // stay bucket-bounded (df-cap drops degenerate feature collisions);
    // the knn row measures build+serve of the 3 per-modality IVF indexes
    bench("scale_multimodal_near_dup") {
      graft.operators.Multimodal.nearDupPairs(spark, famDir)
    }
    bench("scale_multimodal_knn") { graft.operators.Multimodal.mediaKnn(spark, famDir) }
    // r17 verdict #6: per-frame video near-dup at payload scale — the
    // one r17 family with no 50M-tier row. Frame hashes are the only
    // thing entering an exchange (payload read once by the hashing
    // scan); candidate cost is df-capped per (band, chunk) bucket
    bench("scale_multimodal_phash_frames") {
      graft.operators.Multimodal.phashFramePairs(spark, famDir)
    }
    // exact NTILE vs sketch-cut-point segmentation at 500k users over 50M
    // events (r14): same per-user reduction; the sketch form replaces the
    // three unpartitioned sorts with broadcast cut-point compares
    bench("scale_events_rfm") { graft.operators.EventOps.rfm(spark, famDir) }
    bench("scale_events_rfm_sketch") { graft.operators.EventOps.rfmSketch(spark, famDir) }
    // PRODUCTION posture (df cap): the uncapped groundtruth form is
    // quadratic on the 1%-PII hot shingles here (3243 s measured) —
    // exactly the regime the cap exists for
    bench("scale_dedup_containment") {
      graft.operators.Dedup.containmentPairs(spark, famDir) // df-capped default (r13)
    }
    bench("scale_events_transitions") { graft.operators.EventOps.transitions(spark, famDir) }
    bench("scale_events_gap_sessions") { graft.operators.EventOps.gapSessions(spark, famDir) }
    bench("scale_events_time_to_convert") { graft.operators.EventOps.timeToConvert(spark, famDir) }
    bench("scale_flow_moving_avg") { graft.flow.FlowQueries.movingAvg(spark, famDir) }
    bench("scale_ops_histogram_quantile") {
      graft.operators.OpsMetrics.histogramQuantile(spark, famDir)
    }
    // ~500k-node / multi-million-edge traffic graph: 3 integer sweeps
    bench("scale_flow_ip_pagerank") { graft.flow.FlowQueries.ipPageRank(spark, famDir) }
    // r13 additions: LPM route enrichment (explode×5 + broadcast dim +
    // per-flow reduction), anomaly z-score (fact scanned once, moments over
    // the minute relation), last-touch attribution (one user-keyed window),
    // weighted sampling (TakeOrdered top-k, no global sort)
    bench("scale_flow_lpm_summary") { graft.flow.FlowEnrich.flowLpmSummary(spark, famDir) }
    bench("scale_flow_anomaly_zscore") { graft.flow.FlowQueries.anomalyZscore(spark, famDir) }
    bench("scale_events_attribution") { graft.operators.EventOps.lastTouch(spark, famDir) }
    bench("scale_text_weighted_sample") { graft.operators.TextOps.weightedSample(spark, famDir) }
    bench("scale_sim_diversity_int8") { graft.operators.Similarity.simDiversity(spark, famDir) }
    // convergence-style depth (r13): 20 sweeps with the per-sweep
    // lineage cut — proves the iterative posture holds when iters is no
    // longer a small constant (plan depth stays O(1) per sweep)
    bench("scale_flow_ip_pagerank_20") {
      graft.flow.FlowQueries.ipPageRank(spark, famDir, iters = 20)
    }
    // r13 fourth/fifth-wave headliners at scale: the one-pass vec_sums
    // centroid fold at 2M vectors (vs the 78 s explode-era diversity
    // number), the join-free canonical-pair aggregate over 50M flows,
    // and the two-pass broadcast bigram coverage over 5M docs
    bench("scale_sim_label_centroids") {
      graft.operators.Similarity.labelCentroids(spark, famDir)
    }
    bench("scale_sim_centroid_outliers") {
      graft.operators.Similarity.centroidOutliers(spark, famDir)
    }
    bench("scale_flow_bidir_ratio") {
      graft.flow.FlowQueries.bidirRatio(spark, famDir)
    }
    bench("scale_text_bigram_coverage") {
      graft.operators.TextOps.bigramCoverage(spark, famDir)
    }
    // r13 sixth/seventh-wave headliners at scale: the one-pass Gram
    // triangle fold at 2M×64-dim (d²/2 madds per vector, one 16 KB blob
    // per partition — the posture PCA/whitening inherits), and the
    // shingle df spectrum over 5M docs (the df-cap tuning report at the
    // same scale that exposed the 3243 s uncapped join)
    bench("scale_sim_gram_matrix") {
      graft.operators.Similarity.gramMatrix(spark, famDir)
    }
    bench("scale_dedup_df_profile") {
      graft.operators.Dedup.dfProfile(spark, famDir)
    }

    val queriesJson = queries.map { case (k, v) => "\"" + k + f"""":$v%.3f""" }.mkString("{", ",", "}")
    if (fullRun) {
      val json = fullPrefix.get +
        f""","fam_rows":{"events":$n,"documents":$nDocs,"embeddings":$nVecs},""" +
        f""""fam_gen_sec":$famGenSec%.1f,"queries":$queriesJson}"""
      println(json)
      artifact.foreach { f =>
        try java.nio.file.Files.writeString(f, json + "\n")
        catch { case _: Throwable => () }
      }
    } else {
      // merge the refreshed rows into the existing artifact (Jackson is
      // on the Spark classpath); every other field stays as measured by
      // the last full run
      println(s"""{"metric":"scale_refresh","queries":$queriesJson}""")
      artifact.foreach { f =>
        try {
          val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
          val root =
            if (java.nio.file.Files.exists(f))
              mapper.readTree(java.nio.file.Files.readString(f))
                .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
            else mapper.createObjectNode()
          val qn = root.get("queries") match {
            case o: com.fasterxml.jackson.databind.node.ObjectNode => o
            case _ =>
              val o = mapper.createObjectNode(); root.set("queries", o); o
          }
          queries.foreach { case (k, v) =>
            qn.put(k, math.round(v * 1000.0) / 1000.0); ()
          }
          java.nio.file.Files.writeString(f, mapper.writeValueAsString(root) + "\n")
          ()
        } catch { case e: Throwable =>
          System.err.println(s"[bench-scale] merge failed: ${e.getMessage}")
        }
      }
    }

    // clean the multi-GB scratch
    Storage.deleteTree(work)
    spark.stop()
  }
}
