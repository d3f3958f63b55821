package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity}

/** THE ONE-JOB-GRAPH PIPELINE (r14 verdict #5): a single decoded flow
  * topic feeding EVERY streaming tier at once — the raw MV, the 5-minute
  * rollup MV, the streaming exact dedup over the derived document slice,
  * and the streaming IVF + LSH index appends over the derived embedding
  * slice — with online compactions racing all of it. The individual
  * pieces are each spec'd in isolation; this object is the topology that
  * runs them as ONE deployment, the way the reference wires one Kafka
  * insert into its whole MV cascade
  * (`/root/reference/compose/clickhouse/create.sh:36-67` — one insert,
  * many materialized consumers).
  *
  * Exactly-once across a COMBINED sink set: the decode runs once per
  * micro-batch and four manifest commits land off it, each committing
  * under the SAME micro-batch identity with its own replay guard
  * ([[ManifestTable.append]]'s hasBatch no-op; the index appends'
  * hasBatch fast-paths). A crash between ANY two commits re-delivers the
  * batch on restart and only the missing commits land — the crash/restart
  * spec walks every prefix of the commit sequence (FlowPipelineSpec).
  *
  * The dedup leg runs as a SECOND streaming query: its
  * `dropDuplicatesWithinWatermark` state lives in the engine's state
  * store (not expressible inside a foreachBatch of the first query), so
  * the combined deployment is two queries over the same topic — exactly
  * the consumer-group shape a broker gives, and what the bench runs
  * concurrently.
  */
object FlowPipeline {

  /** Deterministic embedding slice of a decoded flow batch: one
    * `dims`-float vector per `every`-th sequence number (the "sampled
    * feature extraction" topology — only some records carry vectors).
    * Pure column arithmetic: replayable, and cheap enough to evaluate
    * inside the decode stage. */
  def deriveVecs(decoded: DataFrame, every: Long = 1000L,
      dims: Int = 16): DataFrame = {
    require(every > 0 && dims > 0, s"need positive every/dims, got $every/$dims")
    val comps = (0 until dims).map { d =>
      (pmod(xxhash64(col("sequenceNum"), lit(d)), lit(2001L)).cast("double")
        / 1000.0 - 1.0).cast("float")
    }
    decoded.filter(pmod(col("sequenceNum"), lit(every)) === 0L)
      .select(col("sequenceNum").as("vec_id"), array(comps: _*).as("embedding"))
  }

  /** Deterministic document slice: one text per `every`-th sequence
    * number, keyed on (AS pair, proto, coarse byte bucket) so distinct
    * texts stay few-thousand-bounded (the dedup leg's watermark state)
    * while duplicates are plentiful. Two quality CLASSES alternate by
    * doc index (r17 verdict #2 — a single-class corpus proves the
    * quality gate *runs*, not that it *discriminates*):
    *  - POOR (odd index): the short digit form — under 20 words, so the
    *    gopher teacher labels it drop, and its tokens land almost
    *    entirely in the unknown bucket under the default vocabulary;
    *  - RICH (even index): the same key spelled in vocabulary words
    *    (digit→word map, pure `regexp_replace` chain) plus a
    *    stopword-rich tail — gopher-keep, scored through vocabulary
    *    tokens the trained weights push above threshold.
    * A model trained on ANY slice of this corpus therefore sees both
    * labels, and a scored stream splits: 0 < kept < scored, which the
    * 50M reconcile asserts. */
  def deriveDocs(decoded: DataFrame, every: Long = 100L): DataFrame = {
    require(every > 0, s"need positive every, got $every")
    // digit → vocabulary word; replacements contain no digits, so the
    // sequential replace chain cannot cascade
    val digitWords = Seq("row", "key", "val", "tab", "agg", "col", "vec",
      "sort", "line", "part")
    val keyDigits = concat_ws(" ", col("srcAS"), col("dstAS"), col("proto"),
      (col("bytes") / 64).cast("long"))
    val keyWords = digitWords.zipWithIndex.foldLeft(keyDigits) {
      case (c, (w, d)) => regexp_replace(c, d.toString, w + " ")
    }
    val tail = lit("the query stream and the data table join in order " +
      "group window filter merge spark hash batch scan")
    val rich = concat_ws(" ", lit("stream"), keyWords, tail)
    val poor = concat_ws(" ", lit("flow"), col("srcAS"), col("dstAS"),
      col("proto"), (col("bytes") / 64).cast("long"))
    decoded.filter(pmod(col("sequenceNum"), lit(every)) === 0L)
      .select(col("sequenceNum").as("doc_id"), col("timeReceived"),
        when(pmod((col("sequenceNum") / every).cast("long"), lit(2L)) === 0L,
          rich).otherwise(poor).as("text"))
  }

  /** One decoded micro-batch → four replay-guarded commits. The batch
    * materializes once (persist) and every sink projects from it; commit
    * order is fixed (raw, rollup, IVF, LSH) so the crash matrix has a
    * defined prefix structure. The IVF index must exist (centroids at
    * manifest batch 0 — seed with [[Similarity.buildIvfIndex]]); the LSH
    * index needs no seed (deterministic hyperplanes). */
  def pipelineBatch(batch: DataFrame, id: Long, rawTable: String,
      rollupTable: String, ivfIndexDir: String, lshIndexDir: String,
      vecEvery: Long = 1000L, dims: Int = 16, bits: Int = 8): Unit = {
    val b = batch.persist()
    try {
      FlowStreams.appendRaw(b, rawTable, id)
      FlowStreams.Rollup.append(b, rollupTable, id)
      Similarity.appendToIvfIndexBatch(deriveVecs(b, vecEvery, dims),
        ivfIndexDir, id + 1L)
      Similarity.appendToLshIndexBatch(deriveVecs(b, vecEvery, dims),
        lshIndexDir, id + 1L, bits)
    } finally { b.unpersist(); () }
  }

  /** Start the combined-sink query (raw MV + rollup MV + IVF + LSH off
    * one decode). */
  def start(decoded: DataFrame, rawTable: String, rollupTable: String,
      ivfIndexDir: String, lshIndexDir: String, checkpoint: String,
      vecEvery: Long = 1000L, dims: Int = 16, bits: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    FlowStreams.startBatches(decoded, checkpoint, FlowStreams.SparkDefaultTrigger)(
      pipelineBatch(_, _, rawTable, rollupTable, ivfIndexDir, lshIndexDir,
        vecEvery, dims, bits))

  /** Start the concurrent QUALITY leg: derived documents scored
    * in-flight by a trained token-weight model
    * ([[graft.operators.TextOps.streamingQualityFilter]] — train offline,
    * filter at ingest; stateless, so this leg adds no state store to the
    * deployment) → replay-guarded managed output of per-document scores
    * and keep flags, each commit leaving exactly one drift line
    * ([[graft.operators.TextOps.qualityLegBatch]] — micro-batch N is
    * manifest batch N+1, the offline-training baseline owns 0) so
    * [[graft.operators.TextOps.qualityNeedsRetrain]] closes the
    * model-refresh loop the way the ANN tier's drift line does
    * (r15 verdict #8). Write the baseline first:
    * [[graft.operators.TextOps.qualityDriftBaseline]]. */
  def startQualityLeg(decoded: DataFrame,
      model: graft.operators.TextOps.TokenWeightModel, outTable: String,
      checkpoint: String, docEvery: Long = 100L)
      : org.apache.spark.sql.streaming.StreamingQuery =
    FlowStreams.startBatches(
      graft.operators.TextOps.streamingQualityFilter(
        deriveDocs(decoded, docEvery), "text", model, keepOnly = false),
      checkpoint, FlowStreams.SparkDefaultTrigger)(graft.operators.TextOps.qualityLegBatch(_, outTable, _))

  /** Start the concurrent dedup leg: derived documents →
    * [[Dedup.streamingExactDedup]] (engine-managed watermark state) →
    * replay-guarded managed output of `(doc_id, text_md5)` survivors. */
  def startDedupLeg(decoded: DataFrame, outTable: String, checkpoint: String,
      docEvery: Long = 100L, lateness: String = "1 hour")
      : org.apache.spark.sql.streaming.StreamingQuery =
    FlowStreams.startBatches(
      Dedup.streamingExactDedup(deriveDocs(decoded, docEvery), "text", "timeReceived",
        lateness),
      checkpoint, FlowStreams.SparkDefaultTrigger)(
      (b, id) => ManifestTable.append(b.select("doc_id", "text_md5"), outTable, None, id))
}
