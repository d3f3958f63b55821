package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.GraftFunctions.reinterpret_uint32
import graft.functions.{HeavyHitters, QuantileSketch, ThetaSketch}

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
  * through [[readRollupManaged]] (query-time re-merge = "SELECT ... GROUP BY"
  * before OPTIMIZE); [[optimizeRollupOnline]] is `OPTIMIZE TABLE` — it folds
  * the fragmented partitions to one row per key and swaps them in one
  * manifest commit while the stream keeps running. This keeps streaming
  * state at zero (no unbounded state store) and makes late data trivially
  * correct: a late row lands as one more partial, folded at the next read or
  * compaction — the reference's exact semantics (T4).
  *
  * One MV mechanism: the rollup and every sketch MV is a [[MergeableMV]] —
  * per-batch partials, one append, one streaming start and one online fold
  * over a [[ManifestTable]] — stated once per MV with its partition and
  * stats columns.
  *
  * Delivery: Spark checkpointing + the manifest's batch-id replay guard give
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

  /** Spark's own default cadence — the next batch as soon as the previous
    * one ends — for the starts that set no cadence of their own. */
  private[graft] val SparkDefaultTrigger: Trigger = Trigger.ProcessingTime(0L)

  /** The one foreachBatch shell every always-on query in the program runs
    * in: `f` receives each micro-batch with its id, under `checkpoint`. */
  private[graft] def startBatches(stream: DataFrame, checkpoint: String, trigger: Trigger)
      (f: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .foreachBatch(f)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

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

  /** The SummingMergeTree fold itself, over any partial-rows relation:
    * equal keys summed, and the Nested ETypeMap merged ELEMENT-WISE by
    * etype (the SummingMergeTree Nested merge, `README.md:180-183`):
    * explode → per-etype sum → re-collect. */
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

  // ------------------------------------------------- one MV mechanism

  /** One manifest-committed mergeable MV — the reference's cascade is one
    * mechanism (an MV writes partial parts and MergeTree merges them in the
    * background, `create.sh:64-110`, `README.md:164-172`), and so is this:
    *  - `partials`: one micro-batch → its partial rows, so the stream
    *    holds ZERO Spark state;
    *  - `fold`: partial rows → partial rows, one per key — the background
    *    merge. Readers finalize over folded and unfolded rows alike;
    *  - `partitionCol`: the table's partition directory column. Keys never
    *    span partitions, so a per-partition fold is exact;
    *  - `statsCol`: the LONG column whose per-file (min,max) the manifest
    *    records, so range reads skip files at the manifest
    *    ([[ManifestTable.readRangePruned]]).
    * Every MV appends, streams and folds through the three bodies below;
    * its finalizing reads are the `read*Managed` functions. The six MVs
    * are the values below; no caller builds another. */
  final class MergeableMV private[FlowStreams] (val partials: DataFrame => DataFrame,
      val fold: DataFrame => DataFrame, val partitionCol: Option[String],
      val statsCol: Option[String]) {

    /** Commit one micro-batch's partials as one manifest version.
      * Exactly-once: Spark's checkpoint replays a batch at most once
      * uncommitted, and the manifest's batch-id guard makes the replayed
      * commit a no-op. */
    def append(batch: DataFrame, table: String, id: Long): Unit =
      ManifestTable.append(partials(batch), table, partitionCol, id, statsCol)

    /** Run the MV always-on: one [[append]] per micro-batch. */
    def start(stream: DataFrame, table: String, checkpoint: String,
        trigger: Trigger = DefaultTrigger): StreamingQuery =
      startBatches(stream, checkpoint, trigger)(append(_, table, _))

    /** ONLINE `OPTIMIZE TABLE`: [[ManifestTable.compact]] with `fold` as
      * the rewrite. A one-file partition holds one task's partials,
      * already one row per key (each partials plan aggregates within its
      * task, and a write task puts one file in each partition directory),
      * so only multi-file partitions are folded; an unpartitioned table is
      * one group. Returns false on a lost swap race. */
    def optimizeOnline(spark: SparkSession, table: String): Boolean =
      ManifestTable.compact(spark, table, partitionCol, statsCol) { (parts, n) =>
        // one output file per folded group: the fold's final groupBy would
        // otherwise leave ~shuffle.partitions tasks each writing a file into
        // every date dir it holds rows for, the folded partitions would come
        // back multi-file, and every later call would refold them forever
        val folded = fold(parts)
        partitionCol.fold(folded.coalesce(1))(c => folded.repartition(n, col(c)))
      }
  }

  /** The 5-minute rollup MV (`flows_5m`, `create.sh:70-110`): per-batch
    * [[rollupPartials]], folded by [[mergeRollup]]. Per-file timeslot
    * bounds let dashboard range reads skip partial files the way the raw
    * table skips on timeReceived. */
  val Rollup: MergeableMV =
    new MergeableMV(rollupPartials, mergeRollup, Some("event_date"), Some("timeslot"))

  /** [[Rollup]]'s always-on stream. */
  def startRollupMVManaged(stream: DataFrame, table: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    Rollup.start(stream, table, checkpoint, trigger)

  /** [[Rollup]]'s online `OPTIMIZE TABLE flows_5m` (`README.md:168-172`). */
  def optimizeRollupOnline(spark: SparkSession, table: String): Boolean =
    Rollup.optimizeOnline(spark, table)

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
  def readTrafficMatrixManaged(spark: SparkSession, table: String): DataFrame = {
    val cells = ManifestTable.read(spark, table)
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

  /** SpaceSaving capacity of every top-talkers partial, fold and read. */
  val TopTalkersCapacity = 256

  /** How many ranked items a top-talkers read returns per group. */
  val TopTalkersK = 10

  /** Continuous TOP-TALKERS MV — the streaming twin of the batch
    * [[graft.flow.FlowQueries.heavyHitters]] screen (the viz-ch top-N
    * panels' unbounded-domain form): per micro-batch, ONE mergeable
    * SpaceSaving sketch per (event_date, proto) over the source address
    * ([[graft.functions.HeavyHittersSketch]]), stored as a binary column
    * exactly like the SummingMergeTree stores partial sums. State never
    * grows with address cardinality: each partial is ≤ capacity entries
    * and the batch's shuffle carries one blob per partition per group.
    * [[readTopTalkersManaged]] folds the blobs and finalizes — the
    * mergeable-summaries bounds survive the cross-batch merge tree, so the
    * MV agrees with a batch sketch over the union (exactly so below
    * eviction). */
  val TopTalkers: MergeableMV = new MergeableMV(
    partials = df => projectRaw(df)
      .groupBy(col("event_date"), col("proto"))
      .agg(HeavyHitters.heavyHittersSketch(
          reinterpret_uint32(col("srcAddr")), TopTalkersCapacity).as("hh_sketch"),
        count(lit(1)).as("flow_count")),
    fold = _.groupBy("event_date", "proto")
      .agg(HeavyHitters.heavyHittersFold(col("hh_sketch"), TopTalkersCapacity).as("hh_sketch"),
        sum("flow_count").as("flow_count")),
    partitionCol = Some("event_date"), statsCol = None)

  /** Read-time finalize of the top-talkers MV: fold every batch's sketch
    * per (event_date, proto) ([[graft.functions.HeavyHittersMerge]]) and
    * explode the top-k with the per-item bounds. One exchange over blobs
    * (≤ capacity entries each), never the address stream. */
  def readTopTalkersManaged(spark: SparkSession, table: String): DataFrame =
    ManifestTable.read(spark, table)
      .groupBy("event_date", "proto")
      .agg(HeavyHitters.heavyHittersMerge(col("hh_sketch"), TopTalkersCapacity, TopTalkersK)
          .as("hh"),
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

  /** KLL accuracy parameter of every bytes-quantiles partial, fold and read. */
  val QuantileK = 200

  /** The quantiles a bytes-quantiles read unpacks, as columns p50/p90/p99. */
  val QuantileProbs: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Continuous BYTE-SIZE DISTRIBUTION MV — the streaming twin of
    * [[graft.flow.FlowQueries.bytesQuantiles]]'s per-protocol panel, the
    * AggregatingMergeTree `quantileState` pattern: per micro-batch, one
    * mergeable KLL sketch per (event_date, proto) over the flow's byte
    * count ([[graft.functions.QuantileSketchAgg]]), stored as a binary
    * column. Each partial is O(k log n/k) bytes (~KBs at k=200) no matter
    * how many flows the batch carried. KLL's rank error survives
    * arbitrary merge trees, so [[readBytesQuantilesManaged]] is as
    * accurate as one sketch over the union. */
  val BytesQuantiles: MergeableMV = new MergeableMV(
    partials = df => projectRaw(df)
      .groupBy(col("event_date"), col("proto"))
      .agg(QuantileSketch.quantileSketch(col("bytes").cast("double"), QuantileK).as("q_sketch"),
        count(lit(1)).as("flow_count")),
    fold = _.groupBy("event_date", "proto")
      .agg(QuantileSketch.quantileFold(col("q_sketch"), QuantileK).as("q_sketch"),
        sum("flow_count").as("flow_count")),
    partitionCol = Some("event_date"), statsCol = None)

  /** Read-time finalize — `quantileMerge` the per-batch sketches and
    * unpack [[QuantileProbs]] as columns. One exchange over fixed-size
    * blobs, never the byte-count stream. */
  def readBytesQuantilesManaged(spark: SparkSession, table: String): DataFrame = {
    val folded = ManifestTable.read(spark, table)
      .groupBy("event_date", "proto")
      .agg(QuantileSketch.quantileMerge(col("q_sketch"), QuantileK, QuantileProbs).as("qs"),
        sum("flow_count").as("flow_count"))
    val qCols = QuantileProbs.zipWithIndex.map { case (p, i) =>
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
    * parallelism, stream state ZERO. Detection happens at READ time:
    * [[readAnomalySeriesManaged]] folds the partials to the exact minute
    * series (integer sums fold exactly under any batch split — the
    * SummingMergeTree invariant) and applies the SHARED z-scoring core, so
    * the MV path is definitionally the batch semantics, late data included
    * (a late flow's partial folds into its minute on the next read,
    * ClickHouse late-merge style). Per-file minute bounds let range reads
    * skip files.
    *
    * Why not a stateful per-record detector: the volumetric alarm is keyed
    * by protocol — a `flatMapGroupsWithState` keyed that coarsely funnels
    * the whole decoded stream through |protos| tasks, while this shape
    * keeps the heavy reduction embarrassingly parallel and the scored
    * relation is minutes × protos (tiny at any corpus size). The alert
    * scheduler polls [[readAnomalyAlarmsManaged]] — the one-row-per-spike
    * cut — on its own cadence, the reference's dashboard-pull model
    * (`viz-ch.json` panels poll; the pipeline itself never pushes). For
    * push-style per-window alerting with bounded keyed state, the pattern
    * is [[FlowScanAlarm]]. */
  val Anomaly: MergeableMV = new MergeableMV(
    partials = df => projectRaw(df)
      .groupBy(col("event_date"), col("proto"),
        ((col("timeReceived") / 60).cast("long") * 60).as("minute"))
      .agg(sum(col("bytes") * col("samplingRate")).as("sampled_bytes"),
        count(lit(1)).as("flow_count")),
    fold = _.groupBy("event_date", "proto", "minute")
      .agg(sum("sampled_bytes").as("sampled_bytes"), sum("flow_count").as("flow_count")),
    partitionCol = Some("event_date"), statsCol = Some("minute"))

  /** The exact (proto, minute, sampled_bytes) series the anomaly MV's
    * partials fold to — the input both scoring cores take. */
  private def anomalyMinutes(spark: SparkSession, table: String): DataFrame =
    ManifestTable.read(spark, table).groupBy("proto", "minute")
      .agg(sum("sampled_bytes").as("sampled_bytes"))

  /** Read-time scoring: fold the partial minute sums exactly, then apply
    * the batch z-score core. Full series (every minute, scored). */
  def readAnomalySeriesManaged(spark: SparkSession, table: String): DataFrame =
    graft.flow.FlowQueries.zscoreOverMinutes(anomalyMinutes(spark, table))

  /** The alarm cut — only the |z| ≥ 3 minutes, newest first. */
  def readAnomalyAlarmsManaged(spark: SparkSession, table: String): DataFrame =
    readAnomalySeriesManaged(spark, table)
      .filter(col("is_anomaly"))
      .orderBy(desc("minute"), asc("proto"))

  /** ROBUST read path over the SAME MV partials: fold exactly, then apply
    * the batch median/MAD core ([[graft.flow.FlowQueries.anomalyMad]]) —
    * one MV serves both estimators, because detection lives entirely at
    * read time (the zero-state partials posture pays off exactly here:
    * adding an estimator costs a read path, never a second stream). */
  def readAnomalyMadSeriesManaged(spark: SparkSession, table: String): DataFrame =
    graft.flow.FlowQueries.madOverMinutes(anomalyMinutes(spark, table))

  // ------------------------------------------------ unique-sources HLL MV

  /** HLL register-count exponent of every unique-sources partial. */
  val HllLgConfigK = 12

  /** Continuous UNIQUE-SOURCES MV — the streaming twin of
    * [[graft.flow.FlowQueries.uniqueSrc]]'s hourly panel, built the way
    * ClickHouse's AggregatingMergeTree stores `uniqState` and finalizes
    * with `uniqMerge`: per micro-batch, one Datasketches HLL sketch per
    * hourly bucket over the source address (Spark's built-in
    * `hll_sketch_agg` — partials merge map-side, the shuffle carries one
    * fixed-size sketch per partition per bucket, never the address
    * stream), stored as a binary column. HLL union is register-wise max —
    * associative, commutative, idempotent — so ANY micro-batch split of
    * the stream folds to byte-identical sketches at read time. One
    * unpartitioned group, with per-file bucket bounds. */
  val UniqueSrc: MergeableMV = new MergeableMV(
    partials = _.groupBy(((col("timeReceived") / 3600).cast("long") * 3600).as("bucket"))
      .agg(hll_sketch_agg(reinterpret_uint32(col("srcAddr")), HllLgConfigK).as("hll_sketch"),
        count(lit(1)).as("flow_count")),
    fold = _.groupBy("bucket")
      .agg(hll_union_agg(col("hll_sketch"), false).as("hll_sketch"),
        sum("flow_count").as("flow_count")),
    partitionCol = None, statsCol = Some("bucket"))

  /** Read-time finalize: union every batch's sketch per bucket
    * (`hll_union_agg`) and estimate — the `uniqMerge` read. One exchange
    * over fixed-size sketch blobs. `unique_src_approx` carries HLL's
    * standard error (~1.6% at lgConfigK=12); the panel's flow_count sum
    * stays exact. */
  def readUniqueSrcManaged(spark: SparkSession, table: String): DataFrame =
    ManifestTable.read(spark, table)
      .groupBy("bucket")
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sketch"), false))
          .as("unique_src_approx"),
        sum("flow_count").as("flow_count"))
      .orderBy("bucket")

  // -------------------------------------------- unique-sources THETA MV

  /** Theta nominal-entries exponent of every theta partial, fold and read. */
  val ThetaLgK = 12

  /** Continuous unique-sources MV in THETA form — same per-batch-partials
    * posture as [[UniqueSrc]], but the stored sketch supports SET
    * OPERATIONS at read time: [[readUniqueSrcOverlapManaged]] intersects
    * consecutive days' folded sketches to answer "how many of yesterday's
    * talkers came back today?" — the question HLL registers cannot
    * answer. Daily granularity (the overlap panel's unit); only
    * fixed-size blobs cross any exchange. One unpartitioned group, with
    * per-file day bounds. */
  val UniqueSrcTheta: MergeableMV = new MergeableMV(
    partials = _.groupBy(((col("timeReceived") / 86400).cast("long") * 86400).as("day"))
      .agg(ThetaSketch.thetaSketch(reinterpret_uint32(col("srcAddr")), ThetaLgK)
          .as("theta_sketch"),
        count(lit(1)).as("flow_count")),
    fold = _.groupBy("day")
      .agg(ThetaSketch.thetaFold(col("theta_sketch"), ThetaLgK).as("theta_sketch"),
        sum("flow_count").as("flow_count")),
    partitionCol = None, statsCol = Some("day"))

  /** Read-time finalize with a SET OP: fold each day's per-batch sketches
    * (`theta_fold`), then pair consecutive days and intersect — same shape
    * as [[graft.flow.FlowQueries.uniqueSrcOverlap]] but served from the MV
    * without touching the raw stream. `strict = false` by default: an MV
    * at scale lives in the estimation regime. */
  def readUniqueSrcOverlapManaged(spark: SparkSession, table: String,
      strict: Boolean = false): DataFrame = {
    val daily = UniqueSrcTheta.fold(ManifestTable.read(spark, table))
      .withColumnRenamed("theta_sketch", "sk")
      // no-op filter pair — see FlowQueries.uniqueSrcOverlap: aligns the
      // two self-join subtrees so the day-grain exchange plans once
      .filter(col("day").isNotNull && (col("day") - 86400L).isNotNull)
    // broadcast self-join pairing instead of an unpartitioned lead
    // window — same rewrite (and the same row-set identity argument) as
    // FlowQueries.uniqueSrcOverlap
    val nxt = daily.select((col("day") - 86400).as("day"), col("sk").as("sk_next"))
    daily.join(broadcast(nxt), Seq("day"))
      .select(col("day"), (col("day") + 86400).as("next_day"),
        ThetaSketch.thetaEstimate(col("sk"), strict).as("unique_day"),
        ThetaSketch.thetaEstimate(col("sk_next"), strict).as("unique_next"),
        ThetaSketch.thetaIntersectCount(col("sk"), col("sk_next"), strict)
          .as("overlap"))
      .orderBy("day")
  }

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

  // ------------------------------------------------------------ raw MV

  /** The raw MV's one append: [[projectRaw]] committed as one manifest
    * version, partitioned by event_date — the reference's `PARTITION BY
    * Date` (`create.sh:60-62`) — with each file's (min,max) timeReceived
    * recorded, so time-range reads skip files at the manifest
    * ([[readRawManagedRange]]), no footer reads. Exactly-once by batch id,
    * as [[MergeableMV.append]]. */
  def appendRaw(batch: DataFrame, table: String, id: Long): Unit =
    ManifestTable.append(projectRaw(batch), table, Some("event_date"), id,
      statsCol = Some("timeReceived"))

  /** Raw MV over a [[ManifestTable]]: every micro-batch is an
    * [[appendRaw]] commit, so [[compactRawOnline]] can merge parts WHILE
    * THE STREAM RUNS, the reference's always-on semantics
    * (`README.md:164-172`). */
  def startRawMVManaged(stream: DataFrame, table: String, checkpoint: String,
      trigger: Trigger = DefaultTrigger): StreamingQuery =
    startBatches(stream, checkpoint, trigger)(appendRaw(_, table, _))

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

  /** ONLINE raw-table compaction: [[ManifestTable.compact]] rewriting
    * each date partition holding more than `filesPerPartition` files into
    * `filesPerPartition` time-sorted files (ClickHouse's background part
    * merge restoring `ORDER BY TimeReceived` clustering), stream still
    * running. Cold partitions are not read (the 50M proof run showed
    * whole-table rewrites growing linearly as the table filled), and the
    * swap re-records timeReceived bounds, which the time-sorted rewrite
    * makes TIGHT — contiguous ranges, not the arrival-order spread of raw
    * appends. Returns false on a lost swap race (aborted cleanly). */
  def compactRawOnline(spark: SparkSession, table: String,
      filesPerPartition: Int = 1): Boolean =
    ManifestTable.compact(spark, table, Some("event_date"), Some("timeReceived"),
        threshold = filesPerPartition) { (rows, n) =>
      // range partitioning on (date, time): hash-partitioning by date alone
      // would collapse each date into ONE task/file regardless of the
      // target, serializing the hottest partition on a single core; ranges
      // give ~filesPerPartition contiguous-time files per date, which also
      // preserves the ORDER BY TimeReceived clustering ACROSS files
      rows.repartitionByRange(n * filesPerPartition, col("event_date"), col("timeReceived"))
        .sortWithinPartitions("timeReceived")
    }

  /** STREAMING AS-OF ENRICHMENT: annotate flows in-flight against a
    * TIME-VERSIONED dimension that itself updates mid-stream — the
    * production posture of the reference's enrichment-processor roadmap
    * (the reference's `README.md:44-51`): AS/geo databases are released in
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
    startBatches(stream, checkpoint, trigger) { (batch, id) =>
      // emptyDimSchema lets the stream start BEFORE the first dimension
      // release is published (the documented posture): early batches
      // enrich to nulls instead of killing the query on the empty
      // manifest; without a schema the pre-first-release
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
    startBatches(stream, checkpoint, trigger)((batch, _) => writer(batch))

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
    startBatches(stream, checkpoint, trigger)(
      idempotentJdbcFlush(_, _, url, table, props))
}
