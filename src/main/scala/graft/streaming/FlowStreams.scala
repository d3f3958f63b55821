package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** The reference's streaming core re-expressed as Structured Streaming: two
  * always-on materialized-view queries over one source, feeding a raw table
  * and a 5-minute pre-aggregate (SURVEY.md §2.1 S9/S10, §2.6).
  *
  * Topology (mirrors `/root/reference/compose/clickhouse/create.sh:36-110`):
  *
  *   source stream ─┬─► raw MV: project + derive Date ─► flows_raw
  *                  │    (append, partitionBy(event_date))        [S9/S7]
  *                  └─► 5m MV: per-batch partial GROUP BY ─► flows_5m
  *                       (append partial aggregate rows)          [S10/S8]
  *
  * SummingMergeTree parity (§7.4 decision): each micro-batch appends its
  * *partial* aggregate rows; equal-key rows accumulate across batches exactly
  * like unmerged SummingMergeTree parts (`README.md:164-172`). Reads go
  * through [[readRollup]] (query-time re-merge = "SELECT ... GROUP BY" before
  * OPTIMIZE); [[optimizeRollup]] is the explicit `OPTIMIZE TABLE` — a batch
  * rewrite that folds each partition to one row per key. This keeps streaming
  * state at zero (no unbounded state store) and makes late data trivially
  * correct: a late row lands as one more partial, folded at the next read or
  * compaction — the reference's exact semantics (T4).
  *
  * Delivery: Spark checkpointing + idempotent-per-batch file sinks give
  * exactly-once — strictly stronger than the reference inserter's
  * at-least-once offset handling (`inserter.go:181-188`, T1).
  *
  * Kafka: this module is source-agnostic (any flow-schema streaming
  * DataFrame). On a cluster with the kafka connector on the classpath, the
  * source is `spark.readStream.format("kafka").option("subscribe","flows")`
  * + the protobuf decode in [[graft.sources.ProtoCodec]]; tests drive the
  * same code with MemoryStream/file sources (none of the MV logic changes).
  */
object FlowStreams {

  /** Default micro-batch cadence — the reference inserter's 5-second flush
    * timer (`inserter.go:35-36`, T2); the count-based flush is subsumed by
    * Spark's batch sizing. */
  val DefaultTrigger: Trigger = Trigger.ProcessingTime("5 seconds")

  /** S9: the insert-time projection of the raw MV — `toDate(TimeReceived) AS
    * Date, *` (`create.sh:64-67`), epoch-day arithmetic like the batch path. */
  def projectRaw(df: DataFrame): DataFrame =
    df.withColumn("event_date",
      date_add(to_date(lit("1970-01-01")), (col("timeReceived") / 86400).cast("int")))

  /** Partial 5-minute rollup of one micro-batch, aggregated per insert
    * block as the reference's MV does (`create.sh:92-110`): an insert block
    * here is one input partition, folded in place with no exchange, so a
    * batch is one stage of one task per partition. Equal keys from
    * different partitions stay separate partial rows, like unmerged
    * SummingMergeTree parts (`README.md:164-172`); every reader
    * ([[mergeRollup]], [[optimizeRollupOnline]]) sums them. Runs as a
    * *batch* plan inside foreachBatch.
    *
    * Shape mirrors `flows_5m` (`create.sh:70-90`): rows keyed
    * (Date, Timeslot, SrcAS, DstAS) carrying the Nested per-EType sub-map —
    * here a sorted ArrayType(Struct(etype, bytes, packets, flow_count)) —
    * plus the summed totals. Schema, nullability and null handling are
    * those of the grouped `sum`/`count` aggregate that [[mergeRollup]]
    * computes. Each partition's rows come out sorted by key: the extra
    * per-task files cost fewer stored bytes when their keys are clustered. */
  def rollupPartials(df: DataFrame): DataFrame = {
    val keyed = projectRaw(df).select(
      col("event_date"),
      ((col("timeReceived") / 300).cast("long") * 300).as("timeslot"),
      col("srcAS"), col("dstAS"), col("etype"),
      col("bytes").cast("long"), col("packets").cast("long"))
    val in = keyed.schema
    val entry = StructType(Seq(in("etype"), StructField("bytes", LongType),
      StructField("packets", LongType), StructField("flow_count", LongType, nullable = false)))
    val out = StructType(in.fields.take(4) ++ Seq(
      StructField("etype_map", ArrayType(entry, containsNull = false), nullable = false),
      StructField("sum_bytes", LongType), StructField("sum_packets", LongType),
      StructField("flow_count", LongType)))
    keyed.mapPartitions(foldBlock _)(Encoders.row(out))
  }

  /** Running `sum(bytes)`, `sum(packets)` and `count(*)`: a sum stays
    * null until a non-null value arrives, as `sum` does. */
  private final class Sums {
    var bytes: java.lang.Long = null
    var packets: java.lang.Long = null
    var count = 0L
    def add(b: java.lang.Long, p: java.lang.Long, n: Long): Unit = {
      if (b != null) bytes = if (bytes == null) b else bytes + b
      if (p != null) packets = if (packets == null) p else packets + p
      count += n
    }
  }

  /** Ascending, nulls first: Spark's default group and `sort_array` order. */
  private val nullsFirst: Ordering[Any] = (a: Any, b: Any) =>
    if (a == null) { if (b == null) 0 else -1 }
    else if (b == null) 1
    else a.asInstanceOf[Comparable[Any]].compareTo(b)

  /** Fold one insert block (rows of [[rollupPartials]]' `keyed` columns)
    * to one row per (event_date, timeslot, srcAS, dstAS), sorted by key. */
  private def foldBlock(rows: Iterator[Row]): Iterator[Row] = {
    val groups = new java.util.HashMap[(Any, Any, Any, Any), java.util.HashMap[Any, Sums]]()
    rows.foreach { r =>
      val key = (r.get(0), r.get(1), r.get(2), r.get(3))
      var cells = groups.get(key)
      if (cells == null) {
        cells = new java.util.HashMap[Any, Sums](4)
        groups.put(key, cells)
      }
      var cell = cells.get(r.get(4))
      if (cell == null) {
        cell = new Sums
        cells.put(r.get(4), cell)
      }
      cell.add(r.getAs[java.lang.Long](5), r.getAs[java.lang.Long](6), 1L)
    }
    import scala.jdk.CollectionConverters._
    val keyOrder = Ordering.Tuple4(nullsFirst, nullsFirst, nullsFirst, nullsFirst)
    groups.asScala.toArray.sortBy(_._1)(keyOrder).iterator.map { case (k, cells) =>
      val total = new Sums
      val etypeMap = cells.asScala.toSeq.sortBy(_._1)(nullsFirst).map { case (etype, c) =>
        total.add(c.bytes, c.packets, c.count)
        Row(etype, c.bytes, c.packets, c.count)
      }
      Row(k._1, k._2, k._3, k._4, etypeMap, total.bytes, total.packets, total.count)
    }
  }

  /** Start the raw MV: stream → project → partitioned parquet, append.
    * Partitioning by event_date is the reference's `PARTITION BY Date`
    * (`create.sh:60-62`) and gives partition pruning to every dashboard
    * time-range query. */
  def startRawMV(stream: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    projectRaw(stream).writeStream
      .format("parquet")
      .option("path", outPath)
      .option("checkpointLocation", checkpoint)
      .partitionBy("event_date")
      .outputMode("append")
      .trigger(trigger)
      .start()

  /** Start the 5-minute rollup MV: per-batch partial aggregates landing in
    * the rollup table — zero streaming state, SummingMergeTree semantics.
    * Each batch writes its own `batch=<id>` directory in OVERWRITE mode:
    * a checkpoint replay rewrites the same directory instead of appending
    * a second copy of partials that the read-time re-merge would silently
    * SUM into inflated totals (blind append was the r7 review's top
    * finding here).
    *
    * SCOPE (r9): this plain-directory layout is for TESTS and short-lived
    * / offline-compacted single-writer tables — it accumulates one
    * `batch=N` dir per micro-batch (~17k/day at the 5-second trigger)
    * between OFFLINE [[optimizeRollup]] calls, and folding requires the
    * stream stopped. The DEPLOYMENT posture for an always-on table is
    * [[startRollupMVManaged]]: manifest-committed appends with snapshot
    * isolation, ONLINE [[optimizeRollupOnline]] folding concurrent with
    * the stream, and vacuum-bounded file counts. The plain reader
    * ([[readRollup]]) stays for migration of existing tables. */
  def startRollupMV(stream: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // replay guard vs OPTIMIZE (r8 review): per-batch overwrite makes
        // a replay idempotent only while the old batch=<id> dir still
        // exists — a fold run between an unclean stop and the restart
        // absorbs the dir into batch=-1, and the replayed write would
        // re-add rows the fold already counted. optimizeRollup records
        // the highest folded id; replays at or below it are no-ops.
        if (id > maxFoldedBatch(outPath))
          rollupPartials(batch).write
            .mode("overwrite")
            .partitionBy("event_date")
            .parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  private val maxFoldedName = "_graft_max_folded_batch"

  /** Highest batch id any [[optimizeRollup]] fold has absorbed; -1 if
    * none. Written atomically by [[recoverOptimize]]'s completion step. */
  private def maxFoldedBatch(path: String): Long = {
    val f = java.nio.file.Paths.get(path, maxFoldedName)
    if (!java.nio.file.Files.isRegularFile(f)) -1L
    else
      try new String(java.nio.file.Files.readAllBytes(f), "UTF-8").trim.toLong
      catch {
        case _: NumberFormatException =>
          // fail loudly: silently treating a corrupt marker as -1 would
          // disarm the replay guard and double-count (same stance as the
          // manifest #maxBatch header)
          throw new IllegalStateException(
            s"corrupt $maxFoldedName in $path — restore or remove it " +
              "(removing re-arms replays only if no fold ran since the " +
              "last checkpoint commit)")
      }
  }

  /** Query-time re-merge of the rollup — reading `flows_5m` before OPTIMIZE
    * (`README.md:164-183`): equal keys summed at read, and the Nested
    * ETypeMap merged ELEMENT-WISE by etype (the SummingMergeTree Nested
    * merge, `README.md:180-183`): explode → per-etype sum → re-collect. */
  def readRollup(spark: SparkSession, path: String): DataFrame =
    mergeRollup(readRollupParts(spark, path))

  /** Read the rollup table's partial rows handling BOTH layouts: per-batch
    * `batch=N/event_date=…` dirs (the idempotent writer) and legacy
    * top-level `event_date=…` dirs (pre-batch tables). A MIXED table —
    * legacy dirs plus batch dirs, which arises when a pre-existing table's
    * stream restarts on this code with its old checkpoint — has leaf files
    * at different depths; one partition-discovery pass fails with
    * "conflicting directory structures" (r7 advisory), so the two groups
    * are read separately and unioned by name. The per-batch idempotency
    * key `batch` is dropped either way. */
  private def readRollupParts(spark: SparkSession, path: String): DataFrame = {
    val root = java.nio.file.Paths.get(path)
    val children: List[String] =
      if (!java.nio.file.Files.isDirectory(root)) Nil
      else {
        val s = java.nio.file.Files.list(root)
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.map(_.getFileName.toString).toList
        } finally s.close()
      }
    val batchDirs = children.filter(_.startsWith("batch="))
    val dateDirs = children.filter(_.startsWith("event_date="))
    if (batchDirs.isEmpty && dateDirs.isEmpty)
      // a clear error beats the opaque 'unable to infer schema' Spark
      // throws for the legitimate read-before-first-commit case (r8
      // review); the managed variant composes as empty via emptySchema
      throw new IllegalArgumentException(
        s"empty rollup table: $path (no batch=/event_date= dirs yet — the " +
          "stream has not committed a batch, or the path is wrong)")
    if (batchDirs.nonEmpty && dateDirs.nonEmpty) {
      val batched = spark.read.option("basePath", path)
        .parquet(batchDirs.map(d => s"$path/$d"): _*).drop("batch")
      val legacy = spark.read.option("basePath", path)
        .parquet(dateDirs.map(d => s"$path/$d"): _*)
      batched.unionByName(legacy, allowMissingColumns = true)
    } else spark.read.parquet(path).drop("batch")
  }

  /** The SummingMergeTree fold itself, over any partial-rows relation. */
  def mergeRollup(parts: DataFrame): DataFrame =
    parts
      .select(col("event_date"), col("timeslot"), col("srcAS"), col("dstAS"),
        explode(col("etype_map")).as("em"))
      .select(col("event_date"), col("timeslot"), col("srcAS"), col("dstAS"),
        col("em.etype").as("etype"), col("em.bytes").as("bytes"),
        col("em.packets").as("packets"), col("em.flow_count").as("fc"))
      .groupBy("event_date", "timeslot", "srcAS", "dstAS", "etype")
      .agg(sum("bytes").as("b"), sum("packets").as("p"), sum("fc").as("c"))
      .groupBy("event_date", "timeslot", "srcAS", "dstAS")
      .agg(
        sort_array(collect_list(struct(col("etype"),
          col("b").as("bytes"), col("p").as("packets"), col("c").as("flow_count"))))
          .as("etype_map"),
        sum("b").as("sum_bytes"), sum("p").as("sum_packets"), sum("c").as("flow_count"))

  /** AS→AS TRAFFIC MATRIX answered FROM the rollup MV — the batch
    * [[graft.flow.FlowQueries.trafficMatrix]] panel served by the
    * always-on rollup with ZERO new streams: the rollup's (srcAS, dstAS)
    * keys already carry everything the matrix needs, so this is a pure
    * read-time reduction over the partial rows (fold-insensitive: equal
    * keys sum whether or not OPTIMIZE has run). Bytes are the rollup's
    * raw byte sums — the MV contract (`create.sh:50-67` sums Bytes);
    * the share is ONE division via the same pinned-cells + broadcast
    * 1-row total shape as the batch query. Cost per refresh: an
    * aggregate over the rollup relation (timeslot-grain, already
    * reduced), not the raw stream. */
  def readTrafficMatrix(spark: SparkSession, path: String): DataFrame =
    trafficMatrixOf(readRollupParts(spark, path))

  /** [[readTrafficMatrix]] over a managed rollup table. */
  def readTrafficMatrixManaged(spark: SparkSession, table: String): DataFrame =
    trafficMatrixOf(ManifestTable.read(spark, table))

  private def trafficMatrixOf(parts: DataFrame): DataFrame = {
    val cells = parts
      .groupBy(col("srcAS").as("src_as"), col("dstAS").as("dst_as"))
      .agg(sum("sum_bytes").as("sum_bytes"), sum("flow_count").as("n_flows"))
      .transform(graft.Storage.materializeOnce)
    val total = cells.agg(sum("sum_bytes").as("total_bytes"))
    cells.crossJoin(broadcast(total))
      .select(col("src_as"), col("dst_as"), col("n_flows"), col("sum_bytes"),
        round(col("sum_bytes").cast("double") / col("total_bytes").cast("double"), 6)
          .as("share"))
      .orderBy(desc("sum_bytes"), col("src_as"), col("dst_as"))
  }

  // ------------------------------------------------ top-talkers sketch MV

  /** Continuous TOP-TALKERS MV — the streaming twin of the batch
    * [[graft.flow.FlowQueries.heavyHitters]] screen (the viz-ch top-N
    * panels' unbounded-domain form): per micro-batch, ONE mergeable
    * SpaceSaving sketch per (event_date, proto) over the source address
    * ([[graft.functions.HeavyHittersSketch]]), stored as a binary column
    * exactly like the SummingMergeTree stores partial sums. State never
    * grows with address cardinality: each partial is ≤ `capacity` entries,
    * the batch's shuffle carries one blob per partition per group, and the
    * stream itself holds ZERO Spark state (same per-batch-partials posture
    * as [[rollupPartials]]). Read-time [[readTopTalkers]] folds the blobs
    * and finalizes — the mergeable-summaries bounds survive the
    * cross-batch merge tree, so the MV agrees with a batch sketch over
    * the union (exactly so below eviction). */
  def topTalkersPartials(df: DataFrame, capacity: Int = 256): DataFrame =
    projectRaw(df)
      .groupBy(col("event_date"), col("proto"))
      .agg(graft.functions.HeavyHitters.heavyHittersSketch(
          graft.GraftFunctions.reinterpret_uint32(col("srcAddr")), capacity).as("hh_sketch"),
        count(lit(1)).as("flow_count"))

  /** Start the top-talkers MV: same idempotent `batch=<id>` overwrite
    * layout as [[startRollupMV]] (a checkpoint replay rewrites its own
    * directory; read-time merge is insensitive to partial multiplicity
    * only if each batch appears ONCE). */
  def startTopTalkersMV(stream: DataFrame, outPath: String, checkpoint: String,
      capacity: Int = 256, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // replay guard (same as startRollupMV): a checkpoint replay of a
        // batch an OPTIMIZE fold already absorbed must be a no-op
        if (id > maxFoldedBatch(outPath))
          topTalkersPartials(batch, capacity).write
            .mode("overwrite")
            .partitionBy("event_date")
            .parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read-time finalize of the top-talkers MV: fold every batch's sketch
    * per (event_date, proto) ([[graft.functions.HeavyHittersMerge]]) and
    * explode the top-k with the per-item bounds. One exchange over blobs
    * (≤ capacity entries each), never the address stream. */
  def readTopTalkers(spark: SparkSession, path: String, capacity: Int = 256,
      k: Int = 10): DataFrame =
    finalizeTopTalkers(plainPartials(spark, path), capacity, k)

  /** Managed-table twin of [[readTopTalkers]]. */
  def readTopTalkersManaged(spark: SparkSession, table: String,
      capacity: Int = 256, k: Int = 10): DataFrame =
    finalizeTopTalkers(ManifestTable.read(spark, table), capacity, k)

  private def finalizeTopTalkers(partials: DataFrame, capacity: Int,
      k: Int): DataFrame =
    partials
      .groupBy("event_date", "proto")
      .agg(graft.functions.HeavyHitters
        .heavyHittersMerge(col("hh_sketch"), capacity, k).as("hh"),
        sum("flow_count").as("flow_count"))
      .select(col("event_date"), col("proto"), col("flow_count"), posexplode(col("hh")))
      .select(col("event_date"), col("proto"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.item").as("src_ip"), col("col.est").as("est"), col("col.err").as("err"),
        // the group's total n — the denominator of the n/capacity
        // presence guarantee, carried so a panel can show est/n shares
        col("flow_count").as("total_flows"))
      .orderBy("event_date", "proto", "rank")

  // --------------------------------------------- bytes-quantiles KLL MV

  /** Continuous BYTE-SIZE DISTRIBUTION MV — the streaming twin of
    * [[graft.flow.FlowQueries.bytesQuantiles]]'s per-protocol panel, the
    * AggregatingMergeTree `quantileState` pattern: per micro-batch, one
    * mergeable KLL sketch per (event_date, proto) over the flow's byte
    * count ([[graft.functions.QuantileSketchAgg]]), stored as a binary
    * column. Each partial is O(k log n/k) bytes (~KBs at k=200) no matter
    * how many flows the batch carried; stream state is ZERO. KLL's rank
    * error survives arbitrary merge trees, so read-time
    * [[readBytesQuantiles]] is as accurate as one sketch over the union. */
  def bytesQuantilesPartials(df: DataFrame, k: Int = 200): DataFrame =
    projectRaw(df)
      .groupBy(col("event_date"), col("proto"))
      .agg(graft.functions.QuantileSketch
          .quantileSketch(col("bytes").cast("double"), k).as("q_sketch"),
        count(lit(1)).as("flow_count"))

  /** Start the bytes-quantiles MV: same idempotent `batch=<id>` overwrite
    * layout as [[startTopTalkersMV]]. */
  def startBytesQuantilesMV(stream: DataFrame, outPath: String, checkpoint: String,
      k: Int = 200, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // replay guard (same as startRollupMV): a checkpoint replay of a
        // batch an OPTIMIZE fold already absorbed must be a no-op
        if (id > maxFoldedBatch(outPath))
          bytesQuantilesPartials(batch, k).write
            .mode("overwrite")
            .partitionBy("event_date")
            .parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read-time finalize — `quantileMerge` the per-batch sketches and
    * unpack the requested probs as columns (p50/p90/p99 by default). One
    * exchange over fixed-size blobs, never the byte-count stream. */
  def readBytesQuantiles(spark: SparkSession, path: String, k: Int = 200,
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    finalizeBytesQuantiles(plainPartials(spark, path), k, probs)

  /** Managed-table twin of [[readBytesQuantiles]]. */
  def readBytesQuantilesManaged(spark: SparkSession, table: String, k: Int = 200,
      probs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame =
    finalizeBytesQuantiles(ManifestTable.read(spark, table), k, probs)

  private def finalizeBytesQuantiles(partials: DataFrame, k: Int,
      probs: Seq[Double]): DataFrame = {
    val folded = partials
      .groupBy("event_date", "proto")
      .agg(graft.functions.QuantileSketch
          .quantileMerge(col("q_sketch"), k, probs).as("qs"),
        sum("flow_count").as("flow_count"))
    val qCols = probs.zipWithIndex.map { case (p, i) =>
      element_at(col("qs"), i + 1).as(s"p${(p * 100).round}")
    }
    folded.select(col("event_date") +: col("proto") +: qCols :+ col("flow_count"): _*)
      .orderBy("event_date", "proto")
  }

  // ------------------------------------------------- traffic-anomaly MV

  /** Continuous TRAFFIC-ANOMALY MV — the streaming twin of
    * [[graft.flow.FlowQueries.anomalyZscore]]'s DDoS/volumetric-spike
    * panel. Per micro-batch: exact integer partial sums per
    * (event_date, proto, minute) — a map-combined batch aggregate at full
    * parallelism, stream state ZERO (the [[rollupPartials]] posture).
    * Detection happens at READ time: [[readAnomalySeries]] folds the
    * partials to the exact minute series (integer sums fold exactly under
    * any batch split — the SummingMergeTree invariant) and applies the
    * SHARED z-scoring core, so the MV path is definitionally the batch
    * semantics, late data included (a late flow's partial folds into its
    * minute on the next read, ClickHouse late-merge style).
    *
    * Why not a stateful per-record detector: the volumetric alarm is keyed
    * by protocol — a `flatMapGroupsWithState` keyed that coarsely funnels
    * the whole decoded stream through |protos| tasks, while this shape
    * keeps the heavy reduction embarrassingly parallel and the scored
    * relation is minutes × protos (tiny at any corpus size). The alert
    * scheduler polls [[readAnomalyAlarms]] — the one-row-per-spike cut —
    * on its own cadence, the reference's dashboard-pull model
    * (`viz-ch.json` panels poll; the pipeline itself never pushes). For
    * push-style per-window alerting with bounded keyed state, the pattern
    * is [[FlowScanAlarm]]. */
  def anomalyPartials(df: DataFrame): DataFrame =
    projectRaw(df)
      .groupBy(col("event_date"), col("proto"),
        ((col("timeReceived") / 60).cast("long") * 60).as("minute"))
      .agg(sum(col("bytes") * col("samplingRate")).as("sampled_bytes"),
        count(lit(1)).as("flow_count"))

  /** Start the anomaly MV: same idempotent `batch=<id>` overwrite layout
    * as [[startTopTalkersMV]]. */
  def startAnomalyMV(stream: DataFrame, outPath: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        if (id > maxFoldedBatch(outPath))
          anomalyPartials(batch).write
            .mode("overwrite")
            .partitionBy("event_date")
            .parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read-time scoring: fold the partial minute sums exactly, then apply
    * the batch z-score core. Full series (every minute, scored). */
  def readAnomalySeries(spark: SparkSession, path: String): DataFrame =
    scoreAnomalies(plainPartials(spark, path))

  /** The alarm cut — only the |z| ≥ 3 minutes, newest first. */
  def readAnomalyAlarms(spark: SparkSession, path: String): DataFrame =
    readAnomalySeries(spark, path)
      .filter(col("is_anomaly"))
      .orderBy(desc("minute"), asc("proto"))

  /** ROBUST read path over the SAME MV partials: fold exactly, then apply
    * the batch median/MAD core ([[graft.flow.FlowQueries.anomalyMad]]) —
    * one MV serves both estimators, because detection lives entirely at
    * read time (the zero-state partials posture pays off exactly here:
    * adding an estimator costs a read path, never a second stream). */
  def readAnomalyMadSeries(spark: SparkSession, path: String): DataFrame =
    graft.flow.FlowQueries.madOverMinutes(
      plainPartials(spark, path).groupBy("proto", "minute")
        .agg(sum("sampled_bytes").as("sampled_bytes")))

  /** Managed-table twins ([[ManifestTable]] snapshot reads). */
  def readAnomalySeriesManaged(spark: SparkSession, table: String): DataFrame =
    scoreAnomalies(ManifestTable.read(spark, table))

  private def scoreAnomalies(partials: DataFrame): DataFrame =
    graft.flow.FlowQueries.zscoreOverMinutes(
      partials.groupBy("proto", "minute")
        .agg(sum("sampled_bytes").as("sampled_bytes")))

  // ------------------------------------------------ unique-sources HLL MV

  /** Continuous UNIQUE-SOURCES MV — the streaming twin of
    * [[graft.flow.FlowQueries.uniqueSrc]]'s hourly panel, built the way
    * ClickHouse's AggregatingMergeTree stores `uniqState` and finalizes
    * with `uniqMerge`: per micro-batch, one Datasketches HLL sketch per
    * hourly bucket over the source address (Spark's built-in
    * `hll_sketch_agg` — partials merge map-side, the shuffle carries one
    * fixed-size sketch per partition per bucket, never the address
    * stream), stored as a binary column. HLL union is register-wise max —
    * associative, commutative, idempotent — so ANY micro-batch split of
    * the stream folds to byte-identical sketches at read time. Stream
    * state is ZERO (per-batch partials, same posture as
    * [[rollupPartials]] / [[topTalkersPartials]]). */
  def uniqueSrcPartials(df: DataFrame, lgConfigK: Int = 12): DataFrame =
    df.groupBy(((col("timeReceived") / 3600).cast("long") * 3600).as("bucket"))
      .agg(hll_sketch_agg(
          graft.GraftFunctions.reinterpret_uint32(col("srcAddr")), lgConfigK)
          .as("hll_sketch"),
        count(lit(1)).as("flow_count"))

  /** Start the unique-sources MV: same idempotent `batch=<id>` overwrite
    * layout as [[startTopTalkersMV]]. */
  def startUniqueSrcMV(stream: DataFrame, outPath: String, checkpoint: String,
      lgConfigK: Int = 12, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // replay guard (same as startRollupMV): a checkpoint replay of a
        // batch an OPTIMIZE fold already absorbed must be a no-op
        if (id > maxFoldedBatch(outPath))
          uniqueSrcPartials(batch, lgConfigK).write
            .mode("overwrite")
            .parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read-time finalize: union every batch's sketch per bucket
    * (`hll_union_agg`) and estimate — the `uniqMerge` read. One exchange
    * over fixed-size sketch blobs. `unique_src_approx` carries HLL's
    * standard error (~1.6% at lgConfigK=12); the panel's flow_count sum
    * stays exact. */
  def readUniqueSrc(spark: SparkSession, path: String): DataFrame =
    finalizeUniqueSrc(plainPartials(spark, path))

  /** Managed-table twin of [[readUniqueSrc]]. */
  def readUniqueSrcManaged(spark: SparkSession, table: String): DataFrame =
    finalizeUniqueSrc(ManifestTable.read(spark, table))

  private def finalizeUniqueSrc(partials: DataFrame): DataFrame =
    partials
      .groupBy("bucket")
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sketch"), false))
          .as("unique_src_approx"),
        sum("flow_count").as("flow_count"))
      .orderBy("bucket")

  // ------------------------------------------- bidirectional stitching

  /** STREAM-STREAM self-join: stitch each flow with its reverse-direction
    * twin (the classic NetFlow "bidirectional session" reconstruction —
    * request and response arrive as two unidirectional records, often in
    * different micro-batches). Canonical orientation: the record whose
    * `srcAddr` is lexicographically below its `dstAddr` is the FORWARD
    * leg; the reverse leg swaps its endpoints to the same canonical
    * 5-tuple and must land within `±maxLagSec` of the forward timestamp.
    * BOTH sides carry a watermark and the join condition bounds both
    * event-time columns, so Spark GCs join state at the watermark — state
    * is O(traffic in the lag window), never unbounded. Inner join: a leg
    * with no twin inside the lag window simply never emits (append mode).
    * Multiple forward legs inside one window each stitch to every
    * in-window reverse leg — the NetFlow record granularity, documented
    * rather than deduplicated. Self-addressed flows (`srcAddr ==
    * dstAddr`, i.e. loopback/hairpin records) are EXCLUDED by the
    * canonical-orientation filters — neither the `<` forward filter nor
    * the `>` reverse filter admits them, so they can never stitch. */
  def stitchBidirectional(stream: DataFrame, maxLagSec: Long = 60L): DataFrame = {
    val base = stream.select(col("srcAddr"), col("dstAddr"), col("srcPort"),
      col("dstPort"), col("proto"), col("bytes"),
      timestamp_seconds(col("timeReceived")).as("ts"))
    val fwd = base
      .filter(col("srcAddr") < col("dstAddr"))
      .select(col("srcAddr").as("a"), col("dstAddr").as("b"),
        col("srcPort").as("pa"), col("dstPort").as("pb"),
        col("proto").as("proto"),
        col("bytes").as("fwd_bytes"), col("ts").as("fwd_ts"))
      .withWatermark("fwd_ts", s"$maxLagSec seconds")
    val rev = base
      .filter(col("srcAddr") > col("dstAddr"))
      .select(col("dstAddr").as("a2"), col("srcAddr").as("b2"),
        col("dstPort").as("pa2"), col("srcPort").as("pb2"),
        col("proto").as("proto2"),
        col("bytes").as("rev_bytes"), col("ts").as("rev_ts"))
      .withWatermark("rev_ts", s"$maxLagSec seconds")
    fwd.join(rev,
      col("a") === col("a2") && col("b") === col("b2") &&
        col("pa") === col("pa2") && col("pb") === col("pb2") &&
        col("proto") === col("proto2") &&
        col("rev_ts") >= col("fwd_ts") - expr(s"INTERVAL $maxLagSec SECONDS") &&
        col("rev_ts") <= col("fwd_ts") + expr(s"INTERVAL $maxLagSec SECONDS"))
      .select(col("a"), col("b"), col("pa"), col("pb"), col("proto"),
        col("fwd_ts"), col("rev_ts"), col("fwd_bytes"), col("rev_bytes"))
  }

  // -------------------------------------------- unique-sources THETA MV

  /** Continuous unique-sources MV in THETA form — same per-batch-partials
    * posture as [[uniqueSrcPartials]], but the stored sketch supports SET
    * OPERATIONS at read time: [[readUniqueSrcOverlap]] intersects
    * consecutive days' folded sketches to answer "how many of yesterday's
    * talkers came back today?" — the question HLL registers cannot
    * answer. Daily granularity (the overlap panel's unit); only
    * fixed-size blobs cross any exchange; stream state is ZERO. */
  def uniqueSrcThetaPartials(df: DataFrame, lgK: Int = 12): DataFrame =
    df.groupBy(((col("timeReceived") / 86400).cast("long") * 86400).as("day"))
      .agg(graft.functions.ThetaSketch.thetaSketch(
          graft.GraftFunctions.reinterpret_uint32(col("srcAddr")), lgK)
          .as("theta_sketch"),
        count(lit(1)).as("flow_count"))

  /** Start the theta MV: same idempotent `batch=<id>` overwrite layout as
    * [[startTopTalkersMV]]. */
  def startUniqueSrcThetaMV(stream: DataFrame, outPath: String, checkpoint: String,
      lgK: Int = 12, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // replay guard (same as startRollupMV): a checkpoint replay of a
        // batch an OPTIMIZE fold already absorbed must be a no-op
        if (id > maxFoldedBatch(outPath))
          uniqueSrcThetaPartials(batch, lgK).write
            .mode("overwrite")
            .parquet(s"$outPath/batch=$id")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read-time finalize with a SET OP: fold each day's per-batch sketches
    * (`theta_union`), then pair consecutive days with a lead window over
    * the one-row-per-day relation and intersect — same shape as
    * [[graft.flow.FlowQueries.uniqueSrcOverlap]] but served from the MV
    * without touching the raw stream. `strict = false` by default: an MV
    * at scale lives in the estimation regime. */
  def readUniqueSrcOverlap(spark: SparkSession, path: String, lgK: Int = 12,
      strict: Boolean = false): DataFrame =
    finalizeUniqueSrcOverlap(plainPartials(spark, path), lgK, strict)

  /** Managed-table twin of [[readUniqueSrcOverlap]]. */
  def readUniqueSrcOverlapManaged(spark: SparkSession, table: String,
      lgK: Int = 12, strict: Boolean = false): DataFrame =
    finalizeUniqueSrcOverlap(ManifestTable.read(spark, table), lgK, strict)

  private def finalizeUniqueSrcOverlap(partials: DataFrame, lgK: Int,
      strict: Boolean): DataFrame = {
    import graft.functions.ThetaSketch
    val daily = partials
      .groupBy("day")
      .agg(ThetaSketch.thetaUnion(col("theta_sketch"), lgK).as("sk"),
        sum("flow_count").as("flow_count"))
      // no-op filter pair — see FlowQueries.uniqueSrcOverlap: aligns the
      // two self-join subtrees so the day-grain exchange plans once
      .filter(col("day").isNotNull && (col("day") - 86400L).isNotNull)
    // r19 (r18 verdict #6): broadcast self-join pairing instead of an
    // unpartitioned lead window — same rewrite (and the same row-set
    // identity argument) as FlowQueries.uniqueSrcOverlap
    val nxt = daily.select((col("day") - 86400).as("day"), col("sk").as("sk_next"))
    daily.join(broadcast(nxt), Seq("day"))
      .select(col("day"), (col("day") + 86400).as("next_day"),
        ThetaSketch.thetaEstimate(col("sk"), strict).as("unique_day"),
        ThetaSketch.thetaEstimate(col("sk_next"), strict).as("unique_next"),
        ThetaSketch.thetaIntersectCount(col("sk"), col("sk_next"), strict)
          .as("overlap"))
      .orderBy("day")
  }

  /** `OPTIMIZE TABLE flows_5m` equivalent (`README.md:168-172`): fold the
    * table to one row per key. Dynamic partition overwrite rewrites only the
    * partitions present in the folded result — at scale this is run per
    * recent Date partition, old partitions stay untouched.
    *
    * Durability: the fold is first written to a STAGING directory as real
    * parquet, and the overwrite of `path` reads from that staged copy —
    * never from in-memory blocks whose lineage points at the files being
    * deleted (the r2 localCheckpoint protocol lost the table if an executor
    * died mid-OPTIMIZE). For compaction concurrent with a RUNNING stream,
    * use the manifest-committed table instead ([[optimizeRollupOnline]]). */
  def optimizeRollup(spark: SparkSession, path: String): Unit =
    optimizeFold(spark, path, readRollup(spark, path), Some("event_date"))

  /** MV compaction for the SKETCH MVs — the AggregatingMergeTree "merge
    * parts" step: fold every `batch=N` directory's per-group partials
    * into ONE partial per group (blob-merge aggregates, counts summed)
    * under the same crash-safe staging/marker/replay-guard protocol as
    * [[optimizeRollup]]. The folded table reads identically at the
    * guarantee level in every regime, and EXACTLY below
    * eviction/compaction (HLL is exact-identical in all regimes —
    * register-wise max is idempotent). One wrapper per MV because each
    * fold must reproduce its PARTIALS schema. */
  // partials → partials fold frames, shared by the offline compactor,
  // the ONLINE (manifest-swap) compactor, and nothing else — readers
  // finalize, they don't need the fold
  private def foldTopTalkers(partials: DataFrame, capacity: Int): DataFrame =
    partials.groupBy("event_date", "proto")
      .agg(graft.functions.HeavyHitters
          .heavyHittersFold(col("hh_sketch"), capacity).as("hh_sketch"),
        sum("flow_count").as("flow_count"))

  private def foldUniqueSrc(partials: DataFrame): DataFrame =
    partials.groupBy("bucket")
      .agg(hll_union_agg(col("hll_sketch"), false).as("hll_sketch"),
        sum("flow_count").as("flow_count"))

  private def foldUniqueSrcTheta(partials: DataFrame, lgK: Int): DataFrame =
    partials.groupBy("day")
      .agg(graft.functions.ThetaSketch
          .thetaUnion(col("theta_sketch"), lgK).as("theta_sketch"),
        sum("flow_count").as("flow_count"))

  private def foldBytesQuantiles(partials: DataFrame, k: Int): DataFrame =
    partials.groupBy("event_date", "proto")
      .agg(graft.functions.QuantileSketch
          .quantileFold(col("q_sketch"), k).as("q_sketch"),
        sum("flow_count").as("flow_count"))

  private def plainPartials(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path).drop("batch")

  def optimizeTopTalkersMV(spark: SparkSession, path: String,
      capacity: Int = 256): Unit =
    optimizeFold(spark, path,
      foldTopTalkers(plainPartials(spark, path), capacity), Some("event_date"))

  def optimizeUniqueSrcMV(spark: SparkSession, path: String): Unit =
    optimizeFold(spark, path, foldUniqueSrc(plainPartials(spark, path)), None)

  def optimizeUniqueSrcThetaMV(spark: SparkSession, path: String,
      lgK: Int = 12): Unit =
    optimizeFold(spark, path,
      foldUniqueSrcTheta(plainPartials(spark, path), lgK), None)

  def optimizeBytesQuantilesMV(spark: SparkSession, path: String,
      k: Int = 200): Unit =
    optimizeFold(spark, path,
      foldBytesQuantiles(plainPartials(spark, path), k), Some("event_date"))

  // ---------------------------- managed (always-on) sketch MV posture

  /** MANAGED deployment posture for the sketch MVs — the same
    * manifest-committed, snapshot-isolated, online-compactable shape
    * [[startRollupMVManaged]] gives the rollup: each micro-batch's
    * partials land as a manifest commit (exactly-once by batch id), the
    * table is readable at every instant, and
    * [[optimizeTopTalkersMVOnline]]-family folds run CONCURRENT with the
    * stream via partition-selective manifest swaps. The HLL/theta tables
    * record per-file (min,max) of their time key, so range reads prune at
    * the manifest like every other managed table. */
  def startTopTalkersMVManaged(stream: DataFrame, table: String, checkpoint: String,
      capacity: Int = 256, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ManifestTable.append(topTalkersPartials(batch, capacity), table,
          Some("event_date"), id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  def startUniqueSrcMVManaged(stream: DataFrame, table: String, checkpoint: String,
      lgConfigK: Int = 12, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ManifestTable.append(uniqueSrcPartials(batch, lgConfigK), table,
          None, id, statsCol = Some("bucket"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  def startUniqueSrcThetaMVManaged(stream: DataFrame, table: String, checkpoint: String,
      lgK: Int = 12, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ManifestTable.append(uniqueSrcThetaPartials(batch, lgK), table,
          None, id, statsCol = Some("day"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  def startBytesQuantilesMVManaged(stream: DataFrame, table: String, checkpoint: String,
      k: Int = 200, trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        ManifestTable.append(bytesQuantilesPartials(batch, k), table,
          Some("event_date"), id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** ONLINE compaction of a managed sketch MV: fold the fragmented
    * partition groups of the current snapshot and swap them in one
    * manifest commit — concurrent appends survive, readers see one
    * committed snapshot at every instant, and a lost swap race aborts
    * cleanly (returns false), exactly like [[optimizeRollupOnline]]. For
    * the event_date-partitioned MVs the group keys never span partitions,
    * so the per-partition fold is exact; the unpartitioned HLL/theta
    * tables fold as one group (their relation is bucket/day-sized). */
  def optimizeTopTalkersMVOnline(spark: SparkSession, table: String,
      capacity: Int = 256): Boolean =
    optimizeSketchOnline(spark, table,
      foldTopTalkers(_, capacity), Some("event_date"), None)

  def optimizeUniqueSrcMVOnline(spark: SparkSession, table: String): Boolean =
    optimizeSketchOnline(spark, table, foldUniqueSrc, None, Some("bucket"))

  def optimizeUniqueSrcThetaMVOnline(spark: SparkSession, table: String,
      lgK: Int = 12): Boolean =
    optimizeSketchOnline(spark, table,
      foldUniqueSrcTheta(_, lgK), None, Some("day"))

  def optimizeBytesQuantilesMVOnline(spark: SparkSession, table: String,
      k: Int = 200): Boolean =
    optimizeSketchOnline(spark, table,
      foldBytesQuantiles(_, k), Some("event_date"), None)

  private def optimizeSketchOnline(spark: SparkSession, table: String,
      fold: DataFrame => DataFrame, partitionCol: Option[String],
      statsCol: Option[String]): Boolean = {
    val (_, files) = ManifestTable.snapshot(table)
    if (files.isEmpty) return true
    val byPartition = filesByPartition(files)
    val unfoldedGroups = byPartition.filter(_._2.size > 1)
    val unfolded = unfoldedGroups.values.flatten.toSeq
    if (unfolded.isEmpty) return true
    // bound output files to one per folded partition group (same r8
    // lesson as optimizeRollupOnline: an unbounded-file fold refolds
    // the whole table forever)
    val folded0 = fold(ManifestTable.readSelected(spark, table, unfolded))
    val folded = partitionCol match {
      case Some(c) => folded0.repartition(math.max(1, unfoldedGroups.size), col(c))
      case None => folded0.coalesce(1)
    }
    ManifestTable.swap(folded, table, partitionCol, unfolded, statsCol = statsCol)
  }

  private def optimizeFold(spark: SparkSession, path: String,
      folded: => DataFrame, partitionCol: Option[String]): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(path)
    // complete (or discard) any crashed prior run before looking at the
    // table — a crash at ANY point below is repaired by the next call
    // instead of stranding the folded data in a sibling dir (r7 advisory)
    recoverOptimize(root)
    def dataDirs: List[String] = {
      val s = Files.list(root)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => n.startsWith("batch=") || n.startsWith("event_date="))
        .toList
      finally s.close()
    }
    val inputs = dataDirs
    if (inputs.isEmpty || inputs == List("batch=-1")) {
      // nothing to fold (empty table, or exactly the previous fold output)
      spark.catalog.refreshByPath(path)
      return
    }
    // durable fold FIRST, into a HIDDEN dir inside the table root
    // (invisible to partition discovery); only then swap the contents. The
    // fold lands as the reserved `batch=-1` directory so the partition
    // layout stays uniform with the per-batch write scheme; pre-batch
    // layouts' top-level event_date dirs are folded in and removed too.
    val staging = root.resolve(".optimize-staging")
    val writer = folded.write.mode("overwrite")
    partitionCol.fold(writer)(c => writer.partitionBy(c))
      .parquet(staging.toString)
    // recording WHICH dirs the fold absorbed makes the swap crash-safe:
    // recovery deletes exactly those dirs (never a dir appended after the
    // fold) and publishes the staged copy — the marker is written LAST and
    // ATOMICALLY (tmp + ATOMIC_MOVE: a crash mid-write must leave no
    // marker at all, or recovery would treat a TRUNCATED input list as a
    // completed fold and double-count the unlisted dirs), so an incomplete
    // fold is never mistaken for a completed one
    val markerTmp = staging.resolve(".folded-inputs.tmp")
    Files.write(markerTmp, inputs.mkString("\n").getBytes("UTF-8"))
    Files.move(markerTmp, staging.resolve(".folded-inputs"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    recoverOptimize(root) // the completion step is the recovery step
    spark.catalog.refreshByPath(path)
  }

  /** Completion/recovery for [[optimizeRollup]]: a staging dir carrying its
    * `.folded-inputs` marker is a COMPLETE durable fold — delete exactly
    * the input dirs it absorbed and publish it as `batch=-1`; a staging
    * dir without the marker is a crashed partial write — discard it. The
    * marker stays inside the dir until after the publish move (a crash
    * between the input deletes and the move must still look "complete" on
    * the next call, or its data dirs would be gone AND its staged copy
    * discarded). */
  private def recoverOptimize(root: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val staging = root.resolve(".optimize-staging")
    if (!Files.isDirectory(staging)) return
    val marker = staging.resolve(".folded-inputs")
    if (!Files.exists(marker)) { graft.Storage.deleteTree(staging); return }
    val inputs = Files.readAllLines(marker).asScala.filter(_.nonEmpty)
    // arm the replay guard FIRST, while the staging dir and its marker
    // still exist: a crash after the input deletes / publish move but
    // before the guard write would leave the fold published with the
    // guard unarmed, so a restarted stream's checkpoint replay of an
    // absorbed batch would re-add rows the fold already counted (r9
    // advisory — the exact double-count the guard exists to prevent).
    // Arming early is safe in the other direction: if we crash right
    // after this write, replays of absorbed batches are skipped but
    // their batch=N dirs are still on disk and still covered by the
    // marker, so the next recoverOptimize completes the publish
    // idempotently — no row is lost or double-counted in any interleave.
    // Monotonic max with any earlier fold's record, written atomically.
    val foldedMax = inputs
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong).filter(_ >= 0)
      .foldLeft(maxFoldedBatch(root.toString))(math.max)
    if (foldedMax >= 0) {
      val tmp = root.resolve(s".$maxFoldedName.tmp")
      Files.write(tmp, foldedMax.toString.getBytes("UTF-8"))
      Files.move(tmp, root.resolve(maxFoldedName),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    inputs.foreach(d => graft.Storage.deleteTree(root.resolve(d)))
    val target = root.resolve("batch=-1")
    if (Files.exists(target))
      throw new IllegalStateException(
        s"$target exists but was not a fold input — concurrent OPTIMIZE? " +
          "optimizeRollup is offline-only (one caller, stream stopped)")
    Files.move(staging, target)
    // the marker is now inside the published dir; hidden files are ignored
    // by readers, but tidy it away (best-effort — harmless if this crashes)
    Files.deleteIfExists(target.resolve(".folded-inputs"))
  }

  /** Dynamic-partition-overwrite `path` from the (already durable) staged
    * copy; refresh cached listings; delete the staging dir ON SUCCESS
    * ONLY — if the overwrite fails partway, the staged copy is the sole
    * surviving full copy of the rewritten partitions and must be kept for
    * recovery (r8 review: a finally-delete destroyed exactly the copy the
    * staging protocol exists to preserve). */
  private def overwriteFromStaging(spark: SparkSession, path: String, staging: String): Unit = {
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      try {
        spark.read.parquet(staging).write
          .mode("overwrite")
          .partitionBy("event_date")
          .parquet(path)
      } catch {
        case e: Throwable =>
          throw new IllegalStateException(
            s"partition overwrite of $path failed midway; the durable " +
              s"staged copy is preserved at $staging — restore the " +
              "affected partitions from it before resuming", e)
      }
      // drop stale file listings for the rewritten path from the shared cache
      spark.catalog.refreshByPath(path)
      graft.Storage.deleteTree(java.nio.file.Paths.get(staging))
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  /** Small-file compaction for a ROTATED raw table: streaming appends leave
    * one file per micro-batch per date partition; this rewrites each
    * partition into `filesPerPartition` time-sorted files — the raw-table
    * analog of ClickHouse's background part merging (`README.md:164-172`),
    * restoring the reference's `ORDER BY TimeReceived` clustering so range
    * scans skip row groups.
    *
    * MUST run on a STOPPED table only: the streaming parquet sink tracks
    * its committed files in a `_spark_metadata` transaction log, and a
    * batch overwrite invalidates it (without a transactional table format
    * there is no safe concurrent compaction). The log is deleted as part of
    * compaction — the directory becomes a plain parquet table for batch
    * readers; a resumed stream should write to a fresh directory/log
    * (standard daily-rotation layout). For compaction WITHOUT stopping the
    * stream, use the manifest-committed layout: [[startRawMVManaged]] +
    * [[compactRawOnline]]. */
  def compactRaw(spark: SparkSession, path: String, filesPerPartition: Int = 1): Unit = {
    val raw = spark.read.parquet(path)
    // range partitioning on (date, time) like compactRawOnline: hashing by
    // date alone collapsed every date into ONE task regardless of
    // filesPerPartition (r7 review) — a single-core whole-table rewrite
    val nDates = raw.select("event_date").distinct().count().toInt.max(1)
    val compacted = raw
      .repartitionByRange(nDates * filesPerPartition,
        col("event_date"), col("timeReceived"))
      .sortWithinPartitions("timeReceived")
    // the staged copy is durable parquet BEFORE anything is deleted; the
    // streaming transaction log is dropped only after the staging write
    // completes, since log-based readers would otherwise resolve to the
    // dead file list mid-rewrite
    val staging = s"$path.compact-staging"
    compacted.write.mode("overwrite").partitionBy("event_date").parquet(staging)
    // Files.delete THROWS on failure — a silently-surviving transaction
    // log would make every later read resolve the stale pre-compaction
    // file list (r8 review: File.delete() booleans were ignored); failing
    // here aborts BEFORE the overwrite touches the table
    val metaDir = java.nio.file.Paths.get(path, "_spark_metadata")
    if (java.nio.file.Files.isDirectory(metaDir)) {
      val s = java.nio.file.Files.list(metaDir)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.toList.foreach(java.nio.file.Files.delete(_))
      } finally s.close()
      java.nio.file.Files.delete(metaDir)
    }
    overwriteFromStaging(spark, path, staging)
  }

  // ------------------------------------------------- manifest-committed MVs

  /** Raw MV over a [[ManifestTable]]: same projection and event_date
    * partitioning as [[startRawMV]], but every micro-batch is committed as
    * an atomic manifest version — so [[compactRawOnline]] can merge parts
    * WHILE THE STREAM RUNS, the reference's always-on semantics
    * (`README.md:164-172`). Appends are exactly-once: Spark's checkpoint
    * replays a batch at most once uncommitted, and the manifest's batch-id
    * guard makes the replayed commit a no-op. */
  def startRawMVManaged(stream: DataFrame, table: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // statsCol: each committed file carries its (min,max) timeReceived
        // in the manifest — time-range queries skip non-overlapping files
        // at the manifest (readRawManagedRange), no footer reads
        ManifestTable.append(projectRaw(batch), table, Some("event_date"), id,
          statsCol = Some("timeReceived"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Rollup MV over a [[ManifestTable]]: per-batch partial aggregates,
    * SummingMergeTree semantics, manifest-committed. */
  def startRollupMVManaged(stream: DataFrame, table: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // timeslot bounds in the manifest: dashboard range queries over the
        // rollup skip non-overlapping partial files the same way the raw
        // table skips on timeReceived
        ManifestTable.append(rollupPartials(batch), table, Some("event_date"), id,
          statsCol = Some("timeslot"))
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** STREAMING AS-OF ENRICHMENT: annotate flows in-flight against a
    * TIME-VERSIONED dimension that itself updates mid-stream — the
    * production posture of the reference's enrichment-processor roadmap
    * (`/root/reference/README.md:44-51`): AS/geo databases are released in
    * dated versions WHILE the stream runs, and the historically-correct
    * join is as-of on event time, not equality against "whatever is
    * loaded now".
    *
    * The dimension lives in a [[ManifestTable]] (columns: `key`,
    * `valid_from`, payload…): publishing a new release is one manifest
    * append — no stream restart, no broadcast rebuild ceremony. Each
    * micro-batch re-reads the latest committed snapshot and
    * [[graft.operators.AsofJoin]]s on (key, event time): a batch row whose
    * event time predates a release keeps the OLDER version even if a newer
    * one is already committed — late data joins its own era. Output
    * appends to a ManifestTable with the batch-id replay guard, so the
    * whole stage is exactly-once end-to-end.
    *
    * Scale: the asof join is one hash exchange sized by the batch; the
    * dimension snapshot read is O(live files) via the manifest (no
    * listing), and version history length only grows the dim side of the
    * union, never the per-row state. */
  def startAsofEnrich(stream: DataFrame, dimTable: String, outTable: String,
      checkpoint: String, factKey: String, factTime: String,
      dimKey: String = "asn", dimTime: String = "valid_from",
      emptyDimSchema: Option[org.apache.spark.sql.types.StructType] = None,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // emptyDimSchema lets the stream start BEFORE the first dimension
        // release is published (the documented posture): early batches
        // enrich to nulls instead of killing the query on the empty
        // manifest (r7 review); without a schema the pre-first-release
        // start stays an error, since null payload columns can't be typed
        val dims = ManifestTable.read(batch.sparkSession, dimTable, emptyDimSchema)
        // timeBuckets = 1: a micro-batch is seconds of data — per-key
        // time-bucket fan-out is a batch-job remedy for hot keys over
        // long ranges, and here it would add a bounds broadcast, two
        // cross-joins and a distinct to EVERY trigger for nothing
        val enriched = graft.operators.AsofJoin.asofJoin(
          batch, dims, factKey, dimKey, factTime, dimTime, timeBuckets = 1)
        ManifestTable.append(enriched, outTable, None, id)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read the managed raw table at its latest committed snapshot. */
  def readRawManaged(spark: SparkSession, table: String): DataFrame =
    ManifestTable.read(spark, table)

  /** Time-range read of the managed raw table: manifest-level file
    * skipping on the recorded per-file (min,max) `timeReceived` — the
    * ClickHouse `ORDER BY TimeReceived` range-scan parity (`create.sh:62`)
    * — then the exact residual predicate over the surviving files. A
    * 1-hour dashboard window on a multi-day table reads only the files
    * whose bounds overlap `[fromSec, untilSec)`; files predating the stats
    * feature are kept conservatively. */
  def readRawManagedRange(spark: SparkSession, table: String,
      fromSec: Long, untilSec: Long): DataFrame =
    ManifestTable.readRangePruned(spark, table, "timeReceived", fromSec, untilSec)
      .filter(col("timeReceived") >= fromSec && col("timeReceived") < untilSec)

  /** Read-time re-merge of the managed rollup (pre-OPTIMIZE semantics). */
  def readRollupManaged(spark: SparkSession, table: String): DataFrame =
    mergeRollup(ManifestTable.read(spark, table))

  /** Timeslot-range read of the managed rollup: manifest-level file
    * skipping on recorded per-file (min,max) timeslot, residual predicate,
    * then the SummingMergeTree re-merge over only the surviving partials —
    * the dashboard's "last N hours" panel against an always-on rollup
    * without touching cold files. `[fromSlot, untilSlot)` in epoch
    * seconds, aligned like `rollupPartials`' 300 s slots. */
  def readRollupManagedRange(spark: SparkSession, table: String,
      fromSlot: Long, untilSlot: Long): DataFrame =
    mergeRollup(
      ManifestTable.readRangePruned(spark, table, "timeslot", fromSlot, untilSlot)
        .filter(col("timeslot") >= fromSlot && col("timeslot") < untilSlot))

  /** ONLINE `OPTIMIZE TABLE`: fold the files of the current snapshot to one
    * row per key and swap them out in a single manifest commit. Safe with a
    * running [[startRollupMVManaged]] stream: batches appended after the
    * snapshot are not in the replaced set and survive; readers at every
    * instant see exactly one committed snapshot. The folded output is
    * durable parquet before the swap — no checkpoint-block lineage.
    * Returns false if a concurrent compaction won the swap race (this
    * one's snapshot went stale and it aborted cleanly).
    *
    * Partition-selective like [[compactRawOnline]]: a one-file partition
    * holds one task's partials — already one row per key, since
    * [[rollupPartials]] folds each input partition to one row per key and
    * a write task puts one file in each partition directory — so only
    * multi-file partitions need folding, and rollup keys never span
    * event_date partitions, so the per-partition fold is exact. */
  def optimizeRollupOnline(spark: SparkSession, table: String): Boolean = {
    val (_, files) = ManifestTable.snapshot(table)
    if (files.isEmpty) return true
    val byPartition = filesByPartition(files)
    val unfoldedGroups = byPartition.filter(_._2.size > 1)
    val unfolded = unfoldedGroups.values.flatten.toSeq
    if (unfolded.isEmpty) return true
    // repartition by event_date BEFORE the swap: the fold's final groupBy
    // otherwise leaves ~shuffle.partitions tasks each writing a file into
    // every date dir it holds rows for — the folded partitions would come
    // back multi-file and every later call would refold the whole table
    // forever (r8 review; compactRawOnline already bounded its file count
    // the same way)
    val folded = mergeRollup(ManifestTable.readSelected(spark, table, unfolded))
      .repartition(math.max(1, unfoldedGroups.size), col("event_date"))
    ManifestTable.swap(folded, table, Some("event_date"), unfolded,
      statsCol = Some("timeslot"))
  }

  /** Group a manifest file list by its partition-directory prefix (one
    * copy — the fold and the part-merge both select fragmented groups). */
  private def filesByPartition(files: Seq[String]): Map[String, Seq[String]] =
    files.groupBy(f =>
      f.lastIndexOf('/') match { case -1 => ""; case i => f.substring(0, i) })

  /** ONLINE raw-table compaction: rewrite fragmented date partitions into
    * `filesPerPartition` time-sorted files (ClickHouse's background part
    * merge restoring `ORDER BY TimeReceived` clustering) and swap them in
    * one manifest commit, stream still running.
    *
    * PARTITION-SELECTIVE: only partitions holding more than
    * `filesPerPartition` files are rewritten — cold partitions' files are
    * not read, not rewritten, and keep their manifest entries. That makes
    * each merge cycle cost ∝ freshly-appended fragmentation, not table
    * size (the 50M proof run showed whole-table rewrites growing linearly
    * as the table filled — exactly what ClickHouse's per-part merging
    * avoids). Returns false on a lost swap race (aborted cleanly). */
  def compactRawOnline(spark: SparkSession, table: String,
      filesPerPartition: Int = 1): Boolean = {
    val (_, files) = ManifestTable.snapshot(table)
    if (files.isEmpty) return true
    val fragmentedGroups = filesByPartition(files).filter(_._2.size > filesPerPartition)
    val fragmented = fragmentedGroups.values.flatten.toSeq
    if (fragmented.isEmpty) return true
    // range partitioning on (date, time): hash-partitioning by date alone
    // would collapse each date into ONE task/file regardless of the
    // target, serializing the hottest partition on a single core; ranges
    // give ~filesPerPartition contiguous-time files per date, which also
    // preserves the ORDER BY TimeReceived clustering ACROSS files
    val compacted = ManifestTable.readSelected(spark, table, fragmented)
      .repartitionByRange(fragmentedGroups.size * filesPerPartition,
        col("event_date"), col("timeReceived"))
      .sortWithinPartitions("timeReceived")
    // compaction re-records timeReceived bounds for the merged files, so
    // range skipping survives part merges (and the time-sorted rewrite
    // makes the per-file bounds TIGHT — contiguous ranges, not the
    // arrival-order spread of raw appends)
    ManifestTable.swap(compacted, table, Some("event_date"), fragmented,
      statsCol = Some("timeReceived"))
  }

  /** Watermarked event-time aggregation — the Spark-native alternative to
    * partial-append when bounded state + on-time finalized rows are wanted
    * (T3/T4/T5): tumbling 5-minute windows, 1-hour lateness. Caller picks
    * sink/output mode (tests use the memory sink in update mode). */
  def watermarkedRollup(stream: DataFrame, lateness: String = "1 hour"): DataFrame =
    stream
      .withColumn("event_time", timestamp_seconds(col("timeReceived")))
      .withWatermark("event_time", lateness)
      .groupBy(window(col("event_time"), "5 minutes"), col("srcAS"), col("dstAS"), col("etype"))
      .agg(sum("bytes").as("sum_bytes"), sum("packets").as("sum_packets"),
        count(lit(1)).as("flow_count"))

  /** One observation entering the typed watermarked rollup; `event_time`
    * must stay in the plan for event-time timeouts. */
  final case class RollupObs(timeslot: Long, srcAS: Int, dstAS: Int, etype: Int,
      bytes: Long, packets: Long, event_time: java.sql.Timestamp)

  /** One entry of the Nested ETypeMap (`create.sh:78-86`). */
  final case class EtypeEntry(etype: Int, bytes: Long, packets: Long, flow_count: Long)

  /** Finalized watermarked-rollup row — schema-identical to one
    * [[rollupPartials]] row, Nested map included. */
  final case class RollupFinal(event_date: java.sql.Date, timeslot: Long,
      srcAS: Int, dstAS: Int, etype_map: Seq[EtypeEntry],
      sum_bytes: Long, sum_packets: Long, flow_count: Long)

  /** Watermarked rollup CARRYING THE NESTED ETypeMap — the r2 gap: the
    * partial-append path has the per-EType sub-map but Spark refuses
    * chained stateful aggregations, so `watermarkedRollup` emitted flat
    * sums only. One `flatMapGroupsWithState` keyed on
    * (timeslot, srcAS, dstAS) sidesteps the restriction: the per-etype
    * sub-aggregation lives INSIDE the group state (a small map, one entry
    * per distinct etype of the key — a handful in practice), so there is
    * exactly one stateful operator. A key finalizes via event-time timeout
    * when the watermark passes its window end, emitting one row with the
    * sorted Nested map and the summed totals — bit-identical to the batch
    * [[rollupPartials]] row for the same input (the spec asserts equality
    * across late-data batches). State is bounded by the number of OPEN
    * windows × keys, the same bound the flat watermarked form has. */
  def watermarkedRollupTyped(stream: DataFrame,
      lateness: String = "1 hour"): Dataset[RollupFinal] = {
    import stream.sparkSession.implicits._
    val slotSeconds = 300L
    stream
      .select(
        ((col("timeReceived") / slotSeconds).cast("long") * slotSeconds).as("timeslot"),
        col("srcAS"), col("dstAS"), col("etype"), col("bytes"), col("packets"),
        timestamp_seconds(col("timeReceived")).as("event_time"))
      .as[RollupObs]
      .withWatermark("event_time", lateness)
      .groupByKey(o => (o.timeslot, o.srcAS, o.dstAS))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        (key: (Long, Int, Int), it: Iterator[RollupObs],
            state: GroupState[Map[Int, EtypeEntry]]) => {
          val (slot, srcAS, dstAS) = key
          if (state.hasTimedOut) {
            val m = state.get
            state.remove()
            val entries = m.valuesIterator.toSeq.sortBy(_.etype)
            Iterator.single(RollupFinal(
              java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(slot / 86400)),
              slot, srcAS, dstAS, entries,
              entries.map(_.bytes).sum, entries.map(_.packets).sum,
              entries.map(_.flow_count).sum))
          } else {
            var m = state.getOption.getOrElse(Map.empty[Int, EtypeEntry])
            it.foreach { o =>
              val prev = m.getOrElse(o.etype, EtypeEntry(o.etype, 0L, 0L, 0L))
              m = m.updated(o.etype, EtypeEntry(o.etype,
                prev.bytes + o.bytes, prev.packets + o.packets, prev.flow_count + 1))
            }
            state.update(m)
            // finalize once the watermark (which already lags by the
            // allowed lateness) passes the window end; Spark requires the
            // timeout to sit strictly beyond the current watermark
            state.setTimeoutTimestamp(
              math.max((slot + slotSeconds) * 1000L, state.getCurrentWatermarkMs() + 1))
            Iterator.empty
          }
        })
  }

  /** S6: the inserter's micro-flush JDBC sink shape — buffered rows flushed
    * on a timer, here exactly-once per micro-batch. `writer` receives each
    * batch (e.g. `_.write.mode("append").jdbc(url, "flows", props)`); tests
    * inject a collector. */
  def startMicroFlushSink(stream: DataFrame, checkpoint: String,
      writer: DataFrame => Unit,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) => writer(batch) }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** The inserter's exact 14-column insert tuple (`inserter.go:142-158`,
    * PG DDL `compose/postgres/create.sh:5-24`): NOW() insert timestamp
    * (F17, `inserter.go:143`), `time_flow` from TimeFlowStart
    * (`inserter.go:129`), addresses rendered Go-style with the nil →
    * `0.0.0.0` default (`inserter.go:131-140`), scalar fields through. */
  def jdbcFlushProjection(df: DataFrame): DataFrame = {
    import graft.GraftFunctions._
    df.select(
      current_timestamp().as("date_inserted"),
      timestamp_seconds(col("timeFlowStart")).as("time_flow"),
      col("flowType").as("type"),
      col("samplingRate").as("sampling_rate"),
      coalesce(ip_string(col("srcAddr")), lit("0.0.0.0")).as("src_ip"),
      coalesce(ip_string(col("dstAddr")), lit("0.0.0.0")).as("dst_ip"),
      col("bytes"), col("packets"),
      col("srcPort").as("src_port"), col("dstPort").as("dst_port"),
      col("etype"), col("proto"),
      col("srcAS").as("src_as"), col("dstAS").as("dst_as"))
  }

  /** S6 with a REAL JDBC endpoint: micro-batches append through
    * `DataFrameWriter.jdbc` (multi-row batched INSERTs — the Go flush loop's
    * `inserter.go:90-111` equivalent, with Spark's `batchsize` replacing the
    * hand-rolled 100-row buffer). Tested against embedded Derby; on a
    * cluster the url/props point at Postgres and nothing else changes.
    * Delivery matches the reference's at-least-once (a replayed micro-batch
    * appends again); [[startJdbcSinkExactlyOnce]] upgrades that. */
  def startJdbcSink(stream: DataFrame, checkpoint: String, url: String,
      table: String, props: java.util.Properties,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    startMicroFlushSink(stream, checkpoint,
      batch => jdbcFlushProjection(batch).write.mode("append").jdbc(url, table, props),
      trigger)

  /** One idempotent JDBC flush: rows land tagged with their micro-batch id,
    * and any half-written replay of the same batch is deleted first — so a
    * crash between write and checkpoint commit cannot duplicate rows.
    * Checkpointed offsets + this per-batch idempotence = end-to-end
    * exactly-once into a plain JDBC table, strictly stronger than the
    * reference inserter's mark-then-flush at-least-once
    * (`inserter.go:181-188`, T1). */
  def idempotentJdbcFlush(batch: DataFrame, batchId: Long, url: String,
      table: String, props: java.util.Properties): Unit = {
    // identifier quoting must match what Spark's JDBC writer created: the
    // table name is passed through RAW (so it resolves however the caller
    // spelled it), but COLUMN names are dialect-quoted (case-preserved) —
    // an unquoted batch_id would resolve to BATCH_ID on Derby and miss
    val dialect = org.apache.spark.sql.jdbc.JdbcDialects.get(url)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val st = conn.createStatement()
      try st.executeUpdate(
        s"DELETE FROM $table WHERE ${dialect.quoteIdentifier("batch_id")} = $batchId")
      catch {
        // ONLY table-absent is benign (first batch creates it below); a
        // failed delete for any other reason — lock timeout, dropped
        // connection — must fail the batch, or the replay guard silently
        // degrades to duplicates (r7 review). SQLStates: Derby 42X05,
        // Postgres 42P01, MySQL/SQLServer 42S02, SQL-standard 42* base.
        // Drivers with null/vendor SQLStates (SQLite, H2 native) fall back
        // to a metadata existence probe (r7 advisory): absent table →
        // benign; present table → the DELETE failed for a real reason.
        // the metadata probe rides the SAME connection the DELETE used; if
        // the connection is dead the probe throws too — that must count as
        // NOT-benign (propagate the ORIGINAL failure), not mask it
        case e: java.sql.SQLException
            if Set("42X05", "42P01", "42S02").contains(e.getSQLState)
              || (try !jdbcTableExists(conn, table)
                  catch { case _: Exception => false }) => ()
      }
      finally st.close()
    } finally conn.close()
    jdbcFlushProjection(batch)
      .withColumn("batch_id", lit(batchId))
      .write.mode("append").jdbc(url, table, props)
  }

  /** Metadata-based table-existence probe for drivers whose SQLStates the
    * replay guard doesn't recognize. Tries the name as spelled plus the
    * upper/lower foldings unquoted identifiers resolve to (Derby/H2 store
    * UPPER, Postgres lower). A schema-qualified name ("analytics.flows")
    * is split into (schemaPattern, tablePattern) — getTables matches the
    * TABLE name only, so passing the dotted form whole would always probe
    * false and silently swallow real DELETE failures (r8 review). */
  private def jdbcTableExists(conn: java.sql.Connection, table: String): Boolean = {
    val md = conn.getMetaData
    val (schema, bare) = table.lastIndexOf('.') match {
      case -1 => (None, table)
      case i => (Some(table.substring(0, i)), table.substring(i + 1))
    }
    def foldings(s: String) = Seq(s, s.toUpperCase, s.toLowerCase).distinct
    val probes = for {
      sc <- schema.fold(Seq(Option.empty[String]))(s => foldings(s).map(Some(_)))
      t <- foldings(bare)
    } yield (sc, t)
    probes.exists { case (sc, t) =>
      val rs = md.getTables(null, sc.orNull, t, null)
      try rs.next() finally rs.close()
    }
  }

  /** Exactly-once JDBC sink: [[idempotentJdbcFlush]] per micro-batch. */
  def startJdbcSinkExactlyOnce(stream: DataFrame, checkpoint: String, url: String,
      table: String, props: java.util.Properties,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        idempotentJdbcFlush(batch, id, url, table, props)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
