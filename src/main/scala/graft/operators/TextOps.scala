package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis operators for large-scale training-data pipelines: token
  * statistics, quality scoring, language identification, and document
  * fingerprinting — each a narrow, shuffle-free projection (per-document
  * work scales embarrassingly; only explicit aggregations shuffle).
  *
  * Oracle-parity rules: counts are integers; ratios are a single final
  * division of integers; fingerprints use md5 (identical lowercase-hex
  * output on both engines).
  */
object TextOps {
  type Q = (SparkSession, String) => DataFrame

  private def toks(c: Column): Column = split(trim(c), "\\s+")

  /** Adjacent-token bigram array via the native codegen'd
    * [[graft.functions.Bigrams]] kernel — the interpreted
    * `transform(sequence(..), i -> concat_ws(' ', slice(t, i, 2)))`
    * spelling allocated a sequence + a 2-slice per gram and dominated
    * the ngram/bigram scale rows (r13 HOF lesson, same as int8_codes). */
  private def bigramsOf(t: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.Bigrams(expression(t)))
  }

  /** Substring occurrence count via the replace-length identity — identical
    * semantics on both engines, no regex dialect risk. */
  private def subCount(c: Column, s: String): Column =
    ((length(c) - length(regexp_replace(c, java.util.regex.Pattern.quote(s), ""))) / s.length).cast("long")

  private def duckSubCount(col: String, s: String): String =
    s"(len($col) - len(replace($col, '$s', ''))) // ${s.length}"

  /** BPE-style pre-tokenization pattern (letter runs, single digits,
    * punctuation singletons — the GPT-2 pre-tokenizer shape, simplified to
    * classes that mean the same in Java and RE2 regex dialects). */
  private val BpePattern = "[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"

  /** Token statistics: whitespace counts, distinct counts, a BPE-ish
    * subword-unit count, average token length. */
  def tokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val w = toks(col("text"))
    d.select(
      col("doc_id"), col("n_chars"),
      length(col("text")).as("char_count"),
      size(w).cast("long").as("token_count"),
      size(array_distinct(w)).cast("long").as("distinct_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0)))
        .cast("long").as("bpe_token_count"),
      (length(regexp_replace(col("text"), "[^a-z]", "")).cast("long").cast("double")
        / size(w)).as("avg_alpha_per_token"))
      .orderBy("doc_id")
  }

  /** Quality scoring: structural ratios + a small integer rubric — the
    * length/punctuation/stopword heuristics of pre-training data filters. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val text = col("text")
    val w = toks(text)
    val tokenCount = size(w).cast("long")
    val alphaChars = length(regexp_replace(text, "[^a-z]", "")).cast("long")
    val spaceChars = (length(text) - length(regexp_replace(text, " ", ""))).cast("long")
    val stopHits = (subCount(text, "the ") + subCount(text, "a ") + subCount(text, "of "))
    val distinctRatio = size(array_distinct(w)).cast("long").cast("double") / tokenCount
    d.select(
      col("doc_id"),
      tokenCount.as("token_count"),
      alphaChars.as("alpha_chars"),
      spaceChars.as("space_chars"),
      stopHits.as("stop_hits"),
      distinctRatio.as("distinct_ratio"),
      (when(tokenCount.between(10, 1000), 1).otherwise(0)
        + when(alphaChars * 10 > length(text) * 7, 1).otherwise(0)
        + when(stopHits > 0, 1).otherwise(0)).cast("int").as("quality_score"))
      .orderBy("doc_id")
  }

  /** REPETITION quality signals — the Gopher/MassiveText filter family
    * the length/stopword rubric ([[qualityScore]]) doesn't cover: highly
    * repetitive documents (keyword stuffing, templated spam, degenerate
    * generations) are flagged by the mass of their most frequent token
    * and adjacent 2-gram. Per document: the top token's share of all
    * tokens and the top bigram's share of all bigrams (single final
    * division, rounded — oracle-parity rules).
    *
    * Scale shape: one explode per feature, immediately reduced by a
    * partial-combined aggregate keyed on (doc_id, xxhash64(gram)) — gram
    * STRINGS never cross an exchange, the shuffles carry ids + 8-byte
    * gram hashes + counts (a string-keyed first aggregate would ship
    * ~the tokenized corpus through the exchange on a mostly-distinct
    * vocabulary, r8 review). Counting on the 64-bit hash is
    * collision-tolerant by construction (a collision merges two gram
    * counts; the string-keyed DuckDB oracle guards it at test scale).
    * token_count rides the first aggregate as sum(c) — no third scan of
    * the corpus's TEXT to recover it.
    *
    * Null-text policy (r9 advisory): a null-text document still emits a
    * row — NULL token_count/fracs, zero top counts — matching the
    * null-row policy established by exact dedup's sentinel digest and
    * simhash's NULL fingerprint. The output frame is anchored on the
    * documents relation itself (explode of a null token array yields no
    * rows, so the aggregates alone would silently drop those docs); the
    * anchor scan is doc_id-only after column pruning and joins on the
    * same doc_id key the aggregates already shuffle on. */
  def repetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")).cast("long"))
    // every NON-NULL document yields >= 1 token row (split of empty text
    // is [""]), so sum(c) recovers its token count exactly
    val topTok = d.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy(col("doc_id"), xxhash64(col("g")).as("gh"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_token_count"), sum("c").as("token_count"))
    val topBi = d.filter(col("n") >= 2)
      .select(col("doc_id"), explode(bigramsOf(col("t"))).as("g"))
      .groupBy(col("doc_id"), xxhash64(col("g")).as("gh"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_count"))
    d.select(col("doc_id"))
      .join(topTok, Seq("doc_id"), "left")
      .join(topBi, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("token_count"),
        coalesce(col("top_token_count"), lit(0L)).as("top_token_count"),
        coalesce(col("top_bigram_count"), lit(0L)).as("top_bigram_count"),
        round(coalesce(col("top_token_count"), lit(0L)).cast("double")
          / col("token_count"), 6).as("top_token_frac"),
        when(col("token_count") >= 2,
          round(coalesce(col("top_bigram_count"), lit(0L)).cast("double")
            / (col("token_count") - 1), 6))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
      .orderBy("doc_id")
  }

  /** Language identification by marker-word frequency (n-gram-heuristic
    * class of language ID; markers per language, argmax with deterministic
    * tie-break by marker order). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val padded = concat(lit(" "), lower(col("text")), lit(" "))
    val en = subCount(padded, " the ") + subCount(padded, " and ") + subCount(padded, " of ")
    val es = subCount(padded, " el ") + subCount(padded, " la ") + subCount(padded, " de ")
    val de = subCount(padded, " und ") + subCount(padded, " der ") + subCount(padded, " die ")
    val fr = subCount(padded, " le ") + subCount(padded, " et ") + subCount(padded, " les ")
    d.select(
      col("doc_id"), col("lang").as("label_lang"),
      en.as("en_hits"), es.as("es_hits"), de.as("de_hits"), fr.as("fr_hits"),
      when(en >= es && en >= de && en >= fr && en > 0, "en")
        .when(es >= de && es >= fr && es > 0, "es")
        .when(de >= fr && de > 0, "de")
        .when(fr > 0, "fr")
        .otherwise("und").as("predicted_lang"))
      .orderBy("doc_id")
  }

  /** LANGUAGE-ID CONFUSION MATRIX — [[langId]]'s heuristic scored against
    * the corpus's `lang` label: (label, predicted) counts plus each
    * cell's share of its label row. The eval every classifier-backed
    * filter ships with (the dedup/ANN twins are [[graft.operators.Dedup]]
    * `dedup_lsh_eval` and `sim_ann_recall`): run it after any rule change
    * and diff the diagonal. One map-combined aggregate over the same
    * scan-stage projection the per-doc operator uses — predictions never
    * materialize, |langs|² rows out at any scale. */
  def langIdEval(spark: SparkSession, dir: String): DataFrame =
    langId(spark, dir)
      .groupBy(col("label_lang"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("label_total",
        sum("n_docs").over(org.apache.spark.sql.expressions.Window
          .partitionBy("label_lang")))
      .select(col("label_lang"), col("predicted_lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("label_total").cast("double"), 6)
          .as("label_share"))
      .orderBy("label_lang", "predicted_lang")

  /** Document fingerprinting: md5 content hash over whitespace-normalized
    * text + a 64-bit prefix — the exact-dup key at 100 TB scale.
    *
    * Two-step projection on purpose: `fp64` derives from the `content_md5`
    * ALIAS, so the regex normalization + md5 run once per row.
    * A single select spelled both columns as `md5(norm)` — and whole-stage
    * codegen's subexpression elimination is not guaranteed across
    * independent output expressions, so the doubled (regexp + digest) work
    * showed up as a +57% bench regression in r3. CollapseProject keeps the
    * split: it never inlines a non-cheap alias referenced more than once. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    d.select(col("doc_id"), md5(norm).as("content_md5"))
      .select(
        col("doc_id"),
        col("content_md5"),
        substring(col("content_md5"), 1, 16).as("fp64"))
      .orderBy("doc_id")
  }

  /** Deterministic per-document hash bucket in [0, 10000): first 6 hex
    * digits of md5(doc_id) — reproducible on any engine, stable across
    * runs/partitions, independent of row order (the properties
    * `df.sample`'s seeded RNG does NOT give you on re-partitioned data).
    * The standard reproducible-sampling / train-val-test primitive for
    * training corpora. */
  private[operators] def hashBucket(id: Column): Column =
    (conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long") % 10000)

  private[operators] def duckHashBucketOf(idExpr: String): String = {
    val digits = (1 to 6).map { i =>
      val w = math.pow(16, 6 - i).toLong
      s"(strpos('0123456789abcdef', substr(md5($idExpr::VARCHAR), $i, 1)) - 1) * $w"
    }.mkString(" + ")
    s"(($digits) % 10000)"
  }

  private val duckHashBucket: String = duckHashBucketOf("doc_id")

  /** Deterministic split label for any id column — the train/val/test
    * assignment rule shared by [[splitCounts]] and the cross-split
    * leakage detector ([[Dedup.splitContamination]]). */
  private[operators] def splitCol(id: Column, valPct: Int, testPct: Int): Column = {
    val b = hashBucket(id)
    when(b < valPct * 100, "val")
      .when(b < (valPct + testPct) * 100, "test")
      .otherwise("train")
  }

  private[operators] def duckSplitOf(idExpr: String, valPct: Int, testPct: Int): String =
    s"""CASE WHEN ${duckHashBucketOf(idExpr)} < ${valPct * 100} THEN 'val'
       | WHEN ${duckHashBucketOf(idExpr)} < ${(valPct + testPct) * 100} THEN 'test'
       | ELSE 'train' END""".stripMargin.replace('\n', ' ')

  /** Deterministic sample: keep documents whose hash bucket < rate·10000. */
  def sampleDocs(spark: SparkSession, dir: String, rate: Double = 0.1): DataFrame =
    Tables.documents(spark, dir)
      .filter(hashBucket(col("doc_id")) < (rate * 10000).toInt)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** Deterministic train/val/test assignment (98/1/1-style by bucket
    * ranges), with per-split counts by language. */
  def splitCounts(spark: SparkSession, dir: String,
      valPct: Int = 5, testPct: Int = 5): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("split", splitCol(col("doc_id"), valPct, testPct))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("doc_count"), sum("n_chars").as("char_count"))
      .orderBy("split", "lang")

  /** STRATIFIED deterministic sampling: per-language keep rates (the
    * "rebalance the corpus mixture" primitive — e.g. downsample the
    * dominant language, keep the tail whole). Same md5-bucket mechanics as
    * [[sampleDocs]], so the draw is order/partition-independent and each
    * document's fate is stable across runs — what `df.stat.sampleBy`'s
    * seeded RNG does NOT guarantee after a repartition. One narrow
    * filter, no shuffle. */
  def stratifiedSample(spark: SparkSession, dir: String,
      rates: Map[String, Double] = Map("en" -> 0.05), defaultRate: Double = 0.3): DataFrame = {
    val threshold = rates.foldLeft(lit((defaultRate * 10000).toInt)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit((r * 10000).toInt)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(hashBucket(col("doc_id")) < threshold)
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** Full-width 24-bit document hash (no bucket fold) — enough
    * granularity that weighted priorities rarely tie; see [[hashBucket]]
    * for the determinism rationale. */
  private def hash24(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 6), 16, 10).cast("long")

  private def duckHash24Of(idExpr: String): String = {
    val digits = (1 to 6).map { i =>
      val w = math.pow(16, 6 - i).toLong
      s"(strpos('0123456789abcdef', substr(md5($idExpr::VARCHAR), $i, 1)) - 1) * $w"
    }.mkString(" + ")
    s"($digits)"
  }

  /** Deterministic WEIGHTED sample: top-k documents by
    * `weight × hash24(doc_id)` with weight = n_chars — longer documents
    * proportionally likelier to surface, every document's fate a pure
    * function of its id (stable across runs, partitionings, and engines;
    * the property the float Efraimidis–Spirakis `u^(1/w)` key family
    * cannot give cross-engine, since `ln`/`pow` are not required to be
    * correctly rounded and a 1-ulp disagreement at the k-th boundary
    * would flip the selection). Integer priority, total (priority,
    * doc_id) order → TakeOrderedAndProject: per-partition top-k heaps,
    * the exchange carries k rows per partition, no global sort — the
    * same serving shape at 100 TB. */
  def weightedSample(spark: SparkSession, dir: String, k: Int = 100): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        (col("n_chars") * hash24(col("doc_id"))).as("priority"))
      .orderBy(desc("priority"), asc("doc_id"))
      .limit(k)

  /** Per-source document cap — the "downsample dominant domains"
    * primitive: keep at most `cap` documents per source, chosen by the
    * deterministic hash order (so the survivors are a stable random-like
    * draw, not the first rows by ingest order). Runs through the custom
    * [[graft.plans.GroupTopK]] operator: bounded per-group heaps, shuffle
    * carries ≤ cap rows per source per input partition — a hot source
    * (the web-corpus reality) never drags its full row set through the
    * exchange the way a window row_number would. The heap ordering is the
    * NEGATED composite (bucket, doc_id) key, unique per document, so the
    * kept set is exact and deterministic. */
  def sourceCap(spark: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import graft.plans.GroupTopK
    val docs = Tables.documents(spark, dir).select("doc_id", "source", "lang", "n_chars")
    // bucket < 10000 < 2^14; doc_id far below 2^49 — the composite is
    // collision-free and orders by (bucket asc, doc_id asc) when negated
    val key = -(hashBucket(col("doc_id")) * lit(1L << 49) + col("doc_id"))
    GroupTopK.topK(docs, Seq(col("source")), key, cap)
      .select("doc_id", "source", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Fixed-window chunking with overlap: split each document into the
    * training sequences a pretraining pipeline feeds the tokenizer —
    * `window`-char windows starting every `stride` chars (overlap =
    * window - stride), `k = max(1, ceil((n_chars - overlap) / stride))`
    * chunks per doc. The chunk count is pure non-negative integer
    * arithmetic so the identical formula runs in DuckDB. At scale this is
    * a map-side explode — no shuffle; output size is input × (1 +
    * overlap/stride), and the trailing chunk is naturally short. A
    * null-n_chars doc yields no chunks on BOTH engines (explode of a null
    * sequence / unnest of a null range): nothing to train on, no row. */
  def chunkDocs(spark: SparkSession, dir: String,
      window: Int = 512, stride: Int = 384): DataFrame = {
    require(window > stride && stride > 0, "need 0 < stride < window")
    val overlap = window - stride
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"),
        explode(expr(
          s"sequence(0L, greatest(1L, (n_chars - $overlap + ${stride - 1}) div $stride) - 1)"))
          .as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        (col("chunk_idx") * stride).as("chunk_start"),
        expr(s"substring(text, int(chunk_idx * $stride) + 1, $window)").as("chunk_text"))
      .withColumn("chunk_len", length(col("chunk_text")).cast("long"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Greedy sequence packing: assign documents, in deterministic doc_id
    * order WITHIN EACH SOURCE SHARD, to fixed token-budget bins —
    * `pack_id = floor(tokens_before_this_doc / budget)`. Packing is
    * inherently sequential, so the window partitions by source: shards
    * pack in parallel (the 100-TB posture — one sequential scan per
    * shard, carrying only (doc_id, token_count) through the exchange,
    * never text). A document larger than the budget still lands in
    * exactly one bin; bins can overflow by at most one document, the
    * standard greedy-packing trade. Output is the per-bin summary. */
  def packDocs(spark: SparkSession, dir: String, budget: Long = 4096L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        size(toks(col("text"))).cast("long").as("token_count"))
      .withColumn("cum_before", coalesce(sum("token_count").over(win), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("doc_count"), sum("token_count").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "pack_id")
  }

  /** The deterministic subword vocabulary the tokenizer rows bind
    * (r14 verdict #4): full corpus words next to their prefixes/suffixes
    * so greedy LONGEST-match is genuinely exercised ("table" must beat
    * "tab", "scan" must beat "an"), plus the space — characters outside
    * it fall back to single-character unknown tokens. Any other
    * vocabulary can be passed per call; registry rows and the DuckDB
    * oracles derive from THIS constant so the two can't drift. */
  val TokenVocabDefault: Seq[String] = Seq(" ",
    "the", "table", "tab", "a", "an", "scan", "value", "val", "row",
    "fast", "slow", "batch", "data", "key", "agg", "join", "small", "big",
    "query", "qu", "er", "or", "in", "line", "sort", "window", "ow",
    "column", "col", "stream", "group", "vector", "vec", "filter", "ter",
    "merge", "spark", "part", "hash", "order", "customer", "cust")

  /** Per-document TOKEN metering under the greedy longest-match
    * vocabulary tokenizer ([[graft.functions.TokenCounts]]): training
    * pipelines budget in tokens, not characters, and this row is the
    * corpus-wide token census the packing/mixing stages re-base on.
    * Scale shape: one map-side native kernel per document (inside
    * WholeStageCodegen — the r13 HOF lesson), no shuffle at all beyond
    * the output sort; integer output only, hash-checked against a
    * DuckDB recursive-CTE replay of the same walk. */
  def tokenize(spark: SparkSession, dir: String,
      vocab: Seq[String] = TokenVocabDefault): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        graft.functions.Tokenize.tokenCounts(
          coalesce(col("text"), lit("")), vocab).as("tc"))
      .select(col("doc_id"),
        element_at(col("tc"), 1).as("n_tokens"),
        element_at(col("tc"), 2).as("n_unknown"))
      .orderBy("doc_id")

  /** [[packDocs]] re-based on TOKEN budgets (r14 verdict #4): identical
    * greedy first-fit packing per source shard, but the budget meters
    * the vocabulary tokenizer's token counts — what an actual training
    * window consumes — instead of whitespace token counts. Same scale
    * shape as [[packDocs]]: the tokenizer kernel is map-side, the
    * running sum windows over the per-DOC relation partitioned by
    * source (each source's docs sort within its partition; the fact
    * text never enters the exchange). */
  def packDocsTokens(spark: SparkSession, dir: String, budget: Long = 512L,
      vocab: Seq[String] = TokenVocabDefault): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"),
        element_at(graft.functions.Tokenize.tokenCounts(
          coalesce(col("text"), lit("")), vocab), 1).as("token_count"))
      .withColumn("cum_before", coalesce(sum("token_count").over(win), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("doc_count"), sum("token_count").as("sum_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "pack_id")
  }

  /** The DuckDB form of the greedy walk: a recursive CTE advancing every
    * document one token per iteration, the longest-match probe as a
    * correlated max over the vocabulary VALUES list (generated from
    * [[TokenVocabDefault]] so the two renderings can't drift). Counts
    * are monotone along the walk, so the final value is a plain max. */
  private def duckTokenWalk: String = {
    val values = TokenVocabDefault
      .map(t => s"('${t.replace("'", "''")}')").mkString(", ")
    s"""WITH RECURSIVE v(tok, clen) AS (
       |  SELECT t, length(t) FROM (VALUES $values) s(t)),
       | d AS (SELECT doc_id, coalesce(text, '') AS text,
       |   length(coalesce(text, '')) AS nc FROM documents),
       | walk(doc_id, pos, n_tokens, n_unknown) AS (
       |   SELECT doc_id, 1, 0, 0 FROM d
       |   UNION ALL
       |   SELECT w.doc_id, w.pos + coalesce(m.clen, 1), w.n_tokens + 1,
       |     w.n_unknown + CASE WHEN m.clen IS NULL THEN 1 ELSE 0 END
       |   FROM walk w JOIN d ON d.doc_id = w.doc_id
       |   LEFT JOIN LATERAL (SELECT max(v.clen) AS clen FROM v
       |     WHERE substring(d.text, w.pos, v.clen) = v.tok) m ON true
       |   WHERE w.pos <= d.nc),
       | tc AS (SELECT doc_id, CAST(max(n_tokens) AS BIGINT) AS n_tokens,
       |   CAST(max(n_unknown) AS BIGINT) AS n_unknown FROM walk GROUP BY doc_id)""".stripMargin
  }

  // ------------------------------------------- trained quality model

  /** The gopher-keep label as a single int column over a `documents`
    * scan — the TEACHER signal [[qualityModelWeights]] distills from
    * (identical predicate to [[gopherQuality]]'s `keep`, which is
    * hash-checked, so the label can't drift from the heuristic row). */
  private def gopherKeepLabel: Column = {
    val w = toks(col("text"))
    val wc = size(w).cast("long")
    val nonspace = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val dups = (size(w) - size(array_distinct(w))).cast("long")
    val stopKinds = StopWords.map(s => array_contains(w, s).cast("int"))
      .reduce(_ + _).cast("long")
    (wc >= 20 && wc <= 500).cast("int") *
      (nonspace >= wc * 3 && nonspace <= wc * 10).cast("int") *
      (stopKinds >= 2).cast("int") *
      ((dups * 2) < wc).cast("int")
  }

  /** Train the token-weight quality model: per vocabulary id, the
    * add-one-smoothed probability (in milli) that a token OCCURRENCE
    * comes from a gopher-keep document —
    * `w_milli = (n_pos + 1) * 1000 div (n_pos + n_neg + 2)`. This is the
    * classifier-distillation step a pretraining pipeline runs (heuristic
    * labels → cheap model → corpus-wide filter, the FineWeb/CCNet
    * pattern), kept in INTEGER arithmetic end-to-end so the learned
    * weights are hash-exact against the oracle's replay of the same
    * training. Scale shape: the exploded (label, tid) relation never
    * carries doc ids or text and map-combines to vocabulary-grain
    * partials before its single exchange — at 100 TB the shuffle is
    * |vocab| rows per task, nothing more. Unknown characters (tid −1)
    * learn a weight like any vocabulary entry. */
  private def trainedWeights(spark: SparkSession, dir: String,
      vocab: Seq[String]): DataFrame =
    trainedWeightsOn(Tables.documents(spark, dir), vocab)

  private def trainedWeightsOn(docs: DataFrame, vocab: Seq[String]): DataFrame =
    docs
      // label FIRST, in its own projection BELOW the explode: the gopher
      // expressions (split / array_distinct / stopword probes) are
      // per-DOCUMENT work, and a single select would hoist them above the
      // Generate — re-evaluated once per token row, a measured 13 s vs
      // 0.7 s at 5 k docs (~19×; the blow-up scales with tokens/doc)
      .select(gopherKeepLabel.as("pos_label"), col("text"))
      .select(col("pos_label"),
        explode(graft.functions.Tokenize.tokenIds(
          coalesce(col("text"), lit("")), vocab)).as("tid"))
      .groupBy("tid")
      .agg(sum(when(col("pos_label") === 1, 1L).otherwise(0L)).as("n_pos"),
        count(lit(1)).as("n_occ"))
      .select(col("tid"), col("n_pos"),
        (col("n_occ") - col("n_pos")).as("n_neg"),
        expr("(n_pos + 1) * 1000 div (n_occ + 2)").as("w_milli"))

  /** The learned weight table itself — one row per OBSERVED token id
    * (vocabulary entry or the −1 unknown bucket) with its label counts
    * and milli-weight. Vocabulary-sized output; a token the corpus never
    * produced is absent and serves at the smoothing prior (500 = the
    * formula at zero counts), so absence and neutrality coincide. */
  def qualityModelWeights(spark: SparkSession, dir: String,
      vocab: Seq[String] = TokenVocabDefault): DataFrame = {
    import spark.implicits._
    val names = (vocab.zipWithIndex.map { case (t, i) => (i, t) } :+
      ((-1, "<unk>"))).toDF("tid", "token")
    trainedWeights(spark, dir, vocab)
      .join(broadcast(names), Seq("tid"))
      .select(col("tid"), col("token"), col("n_pos"), col("n_neg"),
        col("w_milli"))
      .orderBy("tid")
  }

  /** The trained model as a driver-resident value — what a serving fleet
    * (batch rescore or streaming ingest filter) loads once and binds
    * into the fused kernel. `threshold` is the keep cut on the integer
    * mean token weight (500 = more positive than negative evidence
    * under the smoothed odds). */
  final case class TokenWeightModel(vocab: Seq[String], weights: Seq[Long],
      unkWeight: Long, threshold: Long = 500L)

  /** Train and collect the model (bounded by |vocab|+1 rows — the ANN
    * centroid pattern). A vocabulary token the corpus never produced
    * serves at the smoothing prior 500 (the formula at zero counts). */
  def trainQualityModel(spark: SparkSession, dir: String,
      vocab: Seq[String] = TokenVocabDefault): TokenWeightModel =
    trainQualityModelOn(Tables.documents(spark, dir), vocab)

  /** [[trainQualityModel]] over any `(text, …)` relation — the offline
    * corpus a streaming deployment trains on before filtering the live
    * stream. */
  def trainQualityModelOn(docs: DataFrame,
      vocab: Seq[String] = TokenVocabDefault): TokenWeightModel = {
    val learned = trainedWeightsOn(docs, vocab)
      .select("tid", "w_milli").collect()
    val wArr = Array.fill(vocab.length)(500L)
    var unkW = 500L
    learned.foreach { r =>
      val t = r.getInt(0); val wm = r.getLong(1)
      if (t >= 0) wArr(t) = wm else unkW = wm
    }
    TokenWeightModel(vocab, wArr.toSeq, unkW)
  }

  /** `(n_tokens, score_sum, mean_milli, keep)` columns of one fused
    * kernel pass over `text` — shared by the batch rescore rows and the
    * streaming ingest filter so the two can't drift. */
  private def scoreCols(model: TokenWeightModel, text: Column)
      : (Column, Column, Column, Column) = {
    val ts = graft.functions.Tokenize.tokenScore(
      coalesce(text, lit("")), model.vocab, model.weights, model.unkWeight)
    val n = element_at(ts, 1)
    val s = element_at(ts, 3)
    val mean = when(n > 0, (s / n).cast("long")).otherwise(0L)
    (n, s, mean, (mean >= model.threshold).cast("int"))
  }

  /** Score every document under the trained model: `mean_milli` is the
    * integer mean token weight (score_sum div n_tokens; 0 for an empty
    * document), `keep` fires at ≥ 500 — more positive than negative
    * evidence under the smoothed odds. Serving shape: the vocabulary-
    * sized model collects to the driver (bounded by |vocab|+1, the ANN
    * centroid pattern) and rides the plan inside the fused
    * [[graft.functions.TokenScore]] kernel — scoring is ONE map-side
    * scan, no join, no shuffle, whole-stage-codegen'd; at 100 TB this is
    * the cheapest possible corpus pass. */
  def qualityModelScores(spark: SparkSession, dir: String,
      vocab: Seq[String] = TokenVocabDefault): DataFrame = {
    val model = trainQualityModel(spark, dir, vocab)
    val (n, s, mean, keep) = scoreCols(model, col("text"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), n.as("n_tokens"), s.as("score_sum"),
        mean.as("mean_milli"), keep.as("keep"))
      .orderBy("doc_id")
  }

  /** Distillation fidelity: the teacher-label × model-keep confusion
    * matrix with document and token mass per cell — the eval a pipeline
    * reads before trusting the cheap model to filter at full scale.
    * ≤ 6 output rows (label ∈ {0, 1, null-text}, keep ∈ {0, 1}); the
    * scoring scan is the same single map-side pass as
    * [[qualityModelScores]] plus the label expression. */
  def qualityModelAgreement(spark: SparkSession, dir: String,
      vocab: Seq[String] = TokenVocabDefault): DataFrame = {
    val model = trainQualityModel(spark, dir, vocab)
    val (n, _, _, keep) = scoreCols(model, col("text"))
    Tables.documents(spark, dir)
      .select(gopherKeepLabel.as("gopher_keep"), n.as("n_tokens"),
        keep.as("model_keep"))
      .groupBy("gopher_keep", "model_keep")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"))
      .orderBy("gopher_keep", "model_keep")
  }

  /** STREAMING quality filter — the trained model deployed at INGEST:
    * train offline on yesterday's corpus, score today's stream in-flight
    * and drop below-threshold documents before they ever land (the
    * FineWeb/CCNet deploy loop, and the LLM-pipeline counterpart of the
    * reference's insert-time MVs). Stateless: one fused kernel
    * expression per record — no state store, no watermark, no shuffle —
    * so it adds nothing to any streaming topology's state posture.
    * Appends `q_tokens`/`q_mean_milli`/`q_keep`; with `keepOnly` the
    * rejects are dropped in-flight. */
  def streamingQualityFilter(stream: DataFrame, textCol: String,
      model: TokenWeightModel, keepOnly: Boolean = true): DataFrame = {
    Seq("q_tokens", "q_mean_milli", "q_keep").foreach { c =>
      require(!stream.columns.contains(c),
        s"input already has a '$c' column the filter would overwrite — rename it")
    }
    val (n, _, mean, keep) = scoreCols(model, col(textCol))
    val scored = stream.withColumn("q_tokens", n)
      .withColumn("q_mean_milli", mean)
      .withColumn("q_keep", keep)
    if (keepOnly) scored.filter(col("q_keep") === 1) else scored
  }

  // ------------------------------------------- quality-model drift loop

  /** Quality-score distribution observed on the SAME plan the sink
    * writes — count / mean `q_mean_milli` / keep rate (the
    * [[Similarity]] `observedAssign` pattern: metrics deliver when the
    * write job runs, no second pass). */
  private def observedQuality(scored: DataFrame,
      obs: org.apache.spark.sql.Observation): DataFrame =
    scored.observe(obs,
      count(lit(1)).as("n"),
      avg(col("q_mean_milli")).as("mean_milli"),
      avg(col("q_keep").cast("double")).as("keep_rate"))

  /** Where batch `batch`'s quality-drift line lives. */
  private def qualityLinePath(outTable: String, batch: Long): java.nio.file.Path =
    java.nio.file.Paths.get(outTable, "drift", s"b$batch")

  /** Persist one commit's quality-drift line under `outTable/drift/` —
    * advisory telemetry with the [[Similarity]] `recordDrift` contract:
    * written AFTER the commit, a failed write is logged never thrown
    * (the commit landed; retrying "the batch" would double-append). */
  private def recordQualityDrift(outTable: String, batch: Long,
      obs: org.apache.spark.sql.Observation): Unit = {
    import graft.streaming.ManifestTable
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    def d(k: String): Double = m(k) match {
      case null => Double.NaN
      case v: java.lang.Number => v.doubleValue()
    }
    val line = s"$n,${d("mean_milli")},${d("keep_rate")}"
    try ManifestTable.io(outTable).write(qualityLinePath(outTable, batch),
      line.getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(
        s"graft: quality drift line b$batch for $outTable lost (${e.getMessage})")
    }
  }

  /** Write the batch-0 BASELINE drift line: the score distribution of
    * the OFFLINE corpus the model was trained on, scored by that same
    * model — what the live stream's per-batch lines are compared
    * against (the `buildIvfIndex` batch-0 analog; r15 verdict #8). Call
    * once at deployment, before the quality leg starts. */
  def qualityDriftBaseline(docs: DataFrame, textCol: String,
      model: TokenWeightModel, outTable: String): Unit = {
    val obs = org.apache.spark.sql.Observation()
    observedQuality(
        streamingQualityFilter(docs, textCol, model, keepOnly = false)
          .select("q_tokens", "q_mean_milli", "q_keep"), obs)
      .write.mode("overwrite").format("noop").save()
    recordQualityDrift(outTable, 0L, obs)
  }

  /** One quality-leg micro-batch → replay-guarded manifest commit + one
    * drift line ([[graft.streaming.ManifestTable.appendObserved]]):
    * streaming micro-batch N commits as manifest batch N+1 (the baseline
    * owns 0), and lines stay exactly one per batch across replays. */
  def qualityLegBatch(scored: DataFrame, outTable: String,
      streamBatchId: Long): Unit = {
    val manifestBatch = streamBatchId + 1L
    val sel = scored.select("doc_id", "q_tokens", "q_mean_milli", "q_keep")
    graft.streaming.ManifestTable.appendObserved(outTable, None, manifestBatch,
        qualityLinePath(outTable, manifestBatch))(observedQuality(sel, _))(
      recordQualityDrift(outTable, manifestBatch, _))
  }

  /** The drift history: one row per quality commit — `(batch, n,
    * mean_milli, keep_rate)`, ascending; batch 0 is the offline-training
    * baseline. Driver-sized: O(commits) lines. */
  def qualityDriftStats(spark: SparkSession, outTable: String): DataFrame = {
    import graft.streaming.ManifestTable
    import spark.implicits._
    val io = ManifestTable.io(outTable)
    io.list(java.nio.file.Paths.get(outTable, "drift"))
      .flatMap { p =>
        val name = p.getFileName.toString
        if (!name.startsWith("b")) None
        else name.stripPrefix("b").toLongOption.flatMap { b =>
          new String(io.read(p), "UTF-8").trim.split(",", -1) match {
            case Array(n, mean, keep) =>
              try Some((b, n.toLong, mean.toDouble, keep.toDouble))
              catch { case _: NumberFormatException => None }
            case _ => None
          }
        }
      }
      .sortBy(_._1)
      .toDF("batch", "n", "mean_milli", "keep_rate")
  }

  /** Close the model-refresh loop (the ANN tier's [[Similarity
    * .needsRetrain]] shape, r15 verdict #8): true when the live
    * batches' n-weighted mean `q_mean_milli` has fallen more than
    * `toleranceMilli` below the offline-training baseline — the corpus
    * the stream now carries no longer looks like the corpus the weights
    * were distilled from, so a retrain on recent data is due. Scores
    * live in [0, 1000] with keep at 500; the default 50-milli tolerance
    * flags genuine distribution movement while riding out batch noise
    * (the [[Similarity.needsRetrain]] 0.05-of-range convention). Missing
    * baseline or no live data returns false. */
  def qualityNeedsRetrain(spark: SparkSession, outTable: String,
      toleranceMilli: Double = 50.0): Boolean = {
    val rows = qualityDriftStats(spark, outTable).collect()
    rows.find(_.getLong(0) == 0L) match {
      case None => false
      case Some(base) if base.getDouble(2).isNaN => false
      case Some(base) =>
        val live = rows.filter(r =>
          r.getLong(0) > 0L && r.getLong(1) > 0L && !r.getDouble(2).isNaN)
        if (live.isEmpty) false
        else {
          val n = live.map(_.getLong(1)).sum.toDouble
          val weighted = live.map(r => r.getDouble(2) * r.getLong(1)).sum / n
          weighted < base.getDouble(2) - toleranceMilli
        }
    }
  }

  /** DuckDB replay of the whole quality-model pipeline: the tokenizer
    * walk EXTENDED with the matched id per step (longest-match — a tie
    * is impossible, two distinct same-length tokens can't both equal one
    * substring), gopher labels, the integer training formula, and the
    * per-document rescore. The walk probes a PRE-JOINED per-(doc, pos)
    * longest-match table (`lmq`, arg_max on candidate length) built with
    * a FIRST-CHARACTER equi-join — the [[graft.operators.Bpe]] encode
    * oracle's shape, replacing the per-step LATERAL scan of the whole
    * vocabulary that put this oracle at 16.6 s of the 30 s budget (r16
    * verdict #4). Generated from [[TokenVocabDefault]] and [[StopWords]]
    * so the two engines train the same model by construction. Ends with
    * CTEs: `v` (vocab), `lbl` (labels), `steps` (one row per consumed
    * token), `wt` (learned weights), `fin` (per-doc scores). */
  private def duckQualityCtes: String = {
    val values = TokenVocabDefault.zipWithIndex
      .map { case (t, i) => s"($i, '${t.replace("'", "''")}', ${t.length})" }
      .mkString(", ")
    val w = "regexp_split_to_array(trim(text), '\\s+')"
    val stopSum = StopWords
      .map(s => s"CAST(list_contains(w, '$s') AS INT)").mkString(" + ")
    s"""WITH RECURSIVE v(id, tok, clen) AS (
       |  SELECT * FROM (VALUES $values) s(id, tok, clen)),
       | d AS (SELECT doc_id, coalesce(text, '') AS text,
       |   length(coalesce(text, '')) AS nc FROM documents),
       | posn AS (SELECT d.doc_id, CAST(p.i AS INT) AS pos,
       |   substring(d.text, CAST(p.i AS INT), 1) AS c0
       |   FROM d, UNNEST(generate_series(1, d.nc)) AS p(i)),
       | lmq AS MATERIALIZED (
       |   SELECT p.doc_id, p.pos,
       |     arg_max(v.id, v.clen) AS id, max(v.clen) AS clen
       |   FROM posn p
       |   JOIN (SELECT id, tok, clen, substring(tok, 1, 1) AS c0 FROM v) v USING (c0)
       |   JOIN d ON d.doc_id = p.doc_id
       |   WHERE substring(d.text, p.pos, v.clen) = v.tok
       |   GROUP BY 1, 2),
       | lb AS (SELECT doc_id, $w AS w,
       |   CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonspace_chars
       |   FROM documents),
       | lc AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS word_count, nonspace_chars,
       |   CAST(len(w) - len(list_distinct(w)) AS BIGINT) AS dup_tokens,
       |   CAST($stopSum AS BIGINT) AS stop_kinds FROM lb),
       | lbl AS (SELECT doc_id,
       |   CAST(word_count >= 20 AND word_count <= 500 AS INT) *
       |   CAST(nonspace_chars >= word_count * 3 AND nonspace_chars <= word_count * 10 AS INT) *
       |   CAST(stop_kinds >= 2 AS INT) *
       |   CAST(dup_tokens * 2 < word_count AS INT) AS pos_label FROM lc),
       | wk(doc_id, pos, tid) AS (
       |   SELECT doc_id, 1, CAST(NULL AS INTEGER) FROM d
       |   UNION ALL
       |   SELECT wk.doc_id, wk.pos + coalesce(m.clen, 1),
       |     CAST(coalesce(m.id, -1) AS INTEGER)
       |   FROM wk JOIN d ON d.doc_id = wk.doc_id
       |   LEFT JOIN lmq m ON m.doc_id = wk.doc_id AND m.pos = wk.pos
       |   WHERE wk.pos <= d.nc),
       | steps AS (SELECT doc_id, tid FROM wk WHERE tid IS NOT NULL),
       | stats AS (SELECT tid,
       |   CAST(sum(CASE WHEN l.pos_label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |   CAST(count(*) AS BIGINT) AS n_occ
       |   FROM steps s JOIN lbl l USING (doc_id) GROUP BY tid),
       | wt AS (SELECT tid, n_pos, n_occ - n_pos AS n_neg,
       |   (n_pos + 1) * 1000 // (n_occ + 2) AS w_milli FROM stats),
       | sc AS (SELECT s.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |   CAST(sum(t.w_milli) AS BIGINT) AS score_sum
       |   FROM steps s JOIN wt t USING (tid) GROUP BY 1),
       | fin AS (SELECT d.doc_id,
       |   CAST(coalesce(sc.n_tokens, 0) AS BIGINT) AS n_tokens,
       |   CAST(coalesce(sc.score_sum, 0) AS BIGINT) AS score_sum,
       |   CAST(CASE WHEN coalesce(sc.n_tokens, 0) > 0
       |     THEN sc.score_sum // sc.n_tokens ELSE 0 END AS BIGINT) AS mean_milli
       |   FROM d LEFT JOIN sc USING (doc_id))""".stripMargin
  }

  /** Source-mixing weights: the temperature-reweighting step a pretraining
    * pipeline runs to decide how much of each source to sample — weight ∝
    * token_mass^α with α=0.5, flattening the natural source skew. Float
    * parity with the oracle is engineered, not hoped for: the scaled root
    * is FLOORED TO AN INTEGER per source before the cross-source total, so
    * the only float ops are a correctly-rounded IEEE sqrt and one final
    * division of identical integers — no summation-order sensitivity.
    * The 1e4 scale keeps 4-digit weight precision with ~280× headroom
    * against long overflow at 100-TB single-source token masses. The
    * empty-partition window runs over the per-source AGGREGATE (a handful
    * of rows), never the corpus. */
  def mixWeights(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text"))).cast("long")).as("sum_tokens"))
      .withColumn("raw_w",
        floor(sqrt(col("sum_tokens").cast("double")) * 10000).cast("long"))
      .withColumn("total_w", sum("raw_w").over(Window.partitionBy()))
      .select(col("source"), col("n_docs"), col("sum_tokens"),
        round(col("raw_w").cast("double") / col("total_w"), 4).as("weight"),
        expr("raw_w * 1000000 div total_w").as("docs_per_million"))
      .orderBy("source")
  }

  /** The composed training-data prep pipeline in one DAG: chunk every
    * document into training windows, drop exact-duplicate chunks
    * corpus-wide (first occurrence in (doc_id, chunk_idx) order wins),
    * pack the survivors into fixed char-budget bins per source shard.
    * Scale shape: chunking is map-side; the dedup exchange carries
    * (digest, ids, length) — never chunk text; packing exchanges per
    * source shard. One pipeline, three shuffles total, none carrying
    * document bodies. */
  def prepPipeline(spark: SparkSession, dir: String, window: Int = 512,
      stride: Int = 384, budget: Long = 2048L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(window > stride && stride > 0, "need 0 < stride < window")
    val overlap = window - stride
    val ch = Tables.documents(spark, dir)
      .select(col("source"), col("doc_id"), col("text"),
        explode(expr(
          s"sequence(0L, greatest(1L, (n_chars - $overlap + ${stride - 1}) div $stride) - 1)"))
          .as("chunk_idx"))
      .select(col("source"), col("doc_id"), col("chunk_idx"),
        expr(s"substring(text, int(chunk_idx * $stride) + 1, $window)").as("chunk_text"))
      // the digest + length are all downstream stages need: chunk text
      // stays inside the scan stage and never crosses an exchange
      .select(col("source"), col("doc_id"), col("chunk_idx"),
        md5(col("chunk_text")).as("h"),
        length(col("chunk_text")).cast("long").as("chunk_len"))
    val keepWin = Window.partitionBy("h").orderBy("doc_id", "chunk_idx")
    val kept = ch.withColumn("rn", row_number().over(keepWin))
      .filter(col("rn") === 1).drop("rn", "h")
    val packWin = Window.partitionBy("source").orderBy("doc_id", "chunk_idx")
      .rowsBetween(Window.unboundedPreceding, -1)
    kept
      .withColumn("cum_before", coalesce(sum("chunk_len").over(packWin), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div $budget"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("chunk_count"), sum("chunk_len").as("sum_chars"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "pack_id")
  }

  /** VOCABULARY / OUT-OF-VOCABULARY quality signals — the CCNet-style
    * "does this document look like the corpus" family, formulated
    * LOG-FREE so both engines compute bit-identical answers (a unigram
    * log-prob score would hinge on `log` being correctly rounded, which
    * IEEE does not require of either engine; integer counts + one final
    * division do not). Per document: the fraction of token OCCURRENCES
    * outside the corpus's top-`vocabSize` vocabulary (`oov_rate`) and the
    * fraction whose corpus frequency is ≤ `rareMax` (`rare_rate`,
    * hapax-ish). High OOV/rare flags OCR garbage and off-corpus noise;
    * near-zero flags templated boilerplate. Null-text docs emit NULL-stat
    * rows (the [[repetitionStats]] anchor policy).
    *
    * Scale shape: the global unigram count is the canonical wordcount —
    * the pre-shuffle partial aggregate collapses each partition to its
    * distinct tokens, so the exchange carries ~vocabulary, not ~corpus;
    * the counts relation (vocabulary-sized) materializes once and feeds
    * both consumers; top-V selection is TakeOrderedAndProject over it
    * (count desc, token asc — a total order, no global sort); the
    * per-document membership join keys BOTH sides on xxhash64(token), so
    * the corpus-sized probe ships (doc_id, 8-byte hash) pairs — token
    * text never crosses that exchange — and the vocab side (vocabSize
    * rows) broadcasts. Collision tolerance as in [[repetitionStats]]:
    * a 64-bit collision merges two tokens' counts; the string-keyed
    * oracle guards it at test scale. */
  def vocabOovStats(spark: SparkSession, dir: String, vocabSize: Int = 1000,
      rareMax: Long = 1L): DataFrame = {
    val d = Tables.documents(spark, dir)
    val tok = d.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
    val counts = tok.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .transform(graft.Storage.materializeOnce)
    val vocab = counts.orderBy(desc("c"), asc("tok")).limit(vocabSize)
      .select(xxhash64(col("tok")).as("th"), lit(1).as("in_vocab"))
    val per = tok.select(col("doc_id"), xxhash64(col("tok")).as("th"))
      .join(counts.select(xxhash64(col("tok")).as("th"), col("c")), Seq("th"))
      .join(broadcast(vocab), Seq("th"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("token_count"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("oov_tokens"),
        sum(when(col("c") <= rareMax, 1L).otherwise(0L)).as("rare_tokens"))
    d.select(col("doc_id"))
      .join(per, Seq("doc_id"), "left")
      .select(col("doc_id"), col("token_count"), col("oov_tokens"), col("rare_tokens"),
        round(col("oov_tokens").cast("double") / col("token_count"), 6).as("oov_rate"),
        round(col("rare_tokens").cast("double") / col("token_count"), 6).as("rare_rate"))
      .orderBy("doc_id")
  }

  // PII patterns restricted to constructs with identical semantics in the
  // Java and RE2 regex dialects (char classes, bounded quantifiers, \b):
  // email-shaped, dotted-quad-shaped, and NNN[-.]NNN(N)[-.]NNNN phone-shaped
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ip4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3,4}[-.]\\d{4}\\b"

  /** PII SCRUBBING before retention — the documents-side twin of the flow
    * surface's /24 anonymization ([[graft.flow.FlowQueries.ipAnon]]): count
    * and redact email-, IPv4- and phone-shaped spans, emitting per document
    * the category counts and the md5 of the fully scrubbed text (the
    * fingerprint proves the redaction byte-identical across engines without
    * shipping text through the comparator). Patterns apply in sequence on
    * the progressively scrubbed text — email first (its domain may embed a
    * dotted quad), then IP, then phone — so no span double-counts.
    *
    * Scale: a narrow per-row projection (three regex passes inside the scan
    * stage), no shuffle, trivially codegen-friendly; the final `orderBy`
    * exists for the oracle compare, as everywhere in the registry. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val email = size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long")
    val s1 = regexp_replace(col("text"), EmailRe, "<EMAIL>")
    val ip = size(regexp_extract_all(s1, lit(Ip4Re), lit(0))).cast("long")
    val s2 = regexp_replace(s1, Ip4Re, "<IP>")
    val phone = size(regexp_extract_all(s2, lit(PhoneRe), lit(0))).cast("long")
    val s3 = regexp_replace(s2, PhoneRe, "<PHONE>")
    d.select(col("doc_id"),
      email.as("email_count"), ip.as("ip_count"), phone.as("phone_count"),
      (email + ip + phone).as("pii_total"),
      md5(s3).as("scrubbed_md5"))
      .orderBy("doc_id")
  }

  /** Corpus-level top-K bigrams — the "what is actually in my data"
    * inspection op, and the builder of the gram blocklists the
    * decontamination / repetition filters consume. One explode →
    * partial-combined count keyed on the gram STRING: unlike the
    * per-document [[repetitionStats]] (where the hash suffices), the
    * output IS the string, so it must cross the exchange — but map-side
    * combine means each input partition ships its distinct-gram set once,
    * not the exploded corpus. The final top-K is `orderBy.limit` →
    * TakeOrderedAndProject (per-partition heaps, no global sort), with a
    * deterministic (count desc, bigram asc) tie-break. */
  // MEASURED, then reverted (r12): a two-phase hash-candidate variant
  // (count 8-byte gram hashes, then re-scan only broadcast candidates)
  // was built to shrink the corpus exchange — and the 50M-row bench
  // showed it SLOWER (143.8 s vs 102.3 s single-phase at 5M docs): at
  // short gram widths the cost is the explode + aggregate CPU, not the
  // exchange width, so doubling the explode loses more than the
  // string-free shuffle wins. Single-phase is the measured winner here;
  // a corpus with long grams / heavier duplication tails shifts the
  // balance back and the two-phase shape is one commit back in history.
  def ngramTopK(spark: SparkSession, dir: String, k: Int = 20): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") >= 2)
      .select(explode(bigramsOf(col("t"))).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(desc("n_occurrences"), asc("bigram"))
      .limit(k)

  private val StopWords = Seq("the", "a", "of", "and", "to", "in")

  /** Gopher-style document quality rules (Rae et al. 2021, §A1.1), the
    * rubric form pre-training filters actually ship: word-count bounds,
    * mean-word-length bounds, minimum stopword diversity, and a
    * duplicate-token cap — each rule an INTEGER comparison (mean word
    * length via cross-multiplication `3·wc <= chars <= 10·wc`, duplicate
    * fraction via `2·dups < wc`), so the oracle never faces a float.
    * Narrow per-document projection: no shuffle, scales embarrassingly;
    * the downstream filter is `keep = 1`. */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame = {
    val w = toks(col("text"))
    val wc = size(w).cast("long")
    val nonspace = length(regexp_replace(col("text"), "\\s", "")).cast("long")
    val dups = (size(w) - size(array_distinct(w))).cast("long")
    val stopKinds = StopWords.map(s => array_contains(w, s).cast("int"))
      .reduce(_ + _).cast("long")
    val rWc = (wc >= 20 && wc <= 500).cast("int")
    val rMwl = (nonspace >= wc * 3 && nonspace <= wc * 10).cast("int")
    val rStop = (stopKinds >= 2).cast("int")
    val rDup = (dups * 2 < wc).cast("int")
    Tables.documents(spark, dir)
      .select(col("doc_id"), wc.as("word_count"), nonspace.as("nonspace_chars"),
        dups.as("dup_tokens"), stopKinds.as("stop_kinds"),
        rWc.as("r_word_count"), rMwl.as("r_mean_word_len"),
        rStop.as("r_stopwords"), rDup.as("r_dup_frac"),
        (rWc * rMwl * rStop * rDup).as("keep"))
      .orderBy("doc_id")
  }

  /** Word-order-INVARIANT exact dedup: canonicalize each document to its
    * sorted bag of words and keep the lowest doc_id per bag — catches
    * shuffled/reordered copies that byte-level `dedup_exact` misses.
    * Same digest-groupBy shape as exact dedup: only the md5 of the sorted
    * bag (not the text) crosses the exchange, null texts get a per-doc
    * sentinel so they can never collide into one group. */
  def bowDedup(spark: SparkSession, dir: String): DataFrame = {
    // branch BEFORE hashing: concat_ws never returns NULL (it skips null
    // args), so a coalesce on md5's output would silently key every
    // null-text doc as md5("") — the r12 review's finding; the oracle's
    // DuckDB md5(NULL) IS NULL, so the engines would diverge
    val key = when(col("text").isNull, concat(lit("__null__"), col("doc_id")))
      .otherwise(md5(concat_ws(" ", array_sort(toks(col("text"))))))
    // canonical pick as a map-combined AGGREGATE (min_by on the unique
    // doc_id total order), not a window over the dup cluster: a
    // boilerplate cluster of millions of identical bags partial-folds to
    // one (key, row, count) per task instead of landing one task's
    // window buffer (the r13 verdict's weak-spot rewrite). Only the
    // digest plus four narrow columns cross the exchange — text still
    // never leaves the scan.
    Tables.documents(spark, dir)
      .select(key.as("bow_key"), col("doc_id"), col("lang"),
        col("source"), col("n_chars"))
      .groupBy("bow_key")
      .agg(
        min_by(struct(col("doc_id"), col("lang"), col("source"),
          col("n_chars")), col("doc_id")).as("c"),
        count(lit(1)).as("dup_count"))
      .select(col("c.doc_id").as("doc_id"), col("c.lang").as("lang"),
        col("c.source").as("source"), col("c.n_chars").as("n_chars"),
        col("dup_count"))
      .orderBy("doc_id")
  }

  /** Per-document top-5 terms by tf·idf. Ranking uses the N-free monotone
    * equivalent `tf / df` evaluated as one IEEE division of two small
    * integers — correctly rounded and therefore IDENTICAL across engines,
    * unlike a log-based idf whose libm last-ulp can flip a rank — with a
    * lexicographic tie-break; the OUTPUT is integers only (rank, tf, df).
    * Shuffles carry (doc_id, term) then term aggregates; the per-document
    * window is bounded by document vocabulary and plans as
    * WindowGroupLimit under the rank filter.
    *
    * df is a map-combined AGGREGATE over the tf relation joined back —
    * NOT a `count over (partition by term)` window: a hot term ("the",
    * boilerplate) has df ≈ corpus size, and the window form buffers the
    * whole hot-term partition in ONE task, which caps the operator at
    * single-task throughput however many executors exist. The
    * aggregate's exchange carries one row per DISTINCT term, and the
    * join back broadcasts (|vocab| ≪ |tf|). Exchange reuse keeps one
    * corpus scan: both join sides grow from the same tf aggregate.
    *
    * Measured honestly (r14 same-data A/B, BENCH_text_ab[_hot]_r14
    * .json): at 5M docs the two forms are box-noise-comparable — even a
    * PLANTED df=4.5M term still fits one task's window buffer (old
    * 34–35 s vs new 41–51 s; uniform corpus old [34.9, 76.7] vs new
    * [37.6, 63.4]) — so the rewrite buys nothing at benchmark scale and
    * ~20% there. It is kept for the regime the bench box cannot stage:
    * a web-corpus hot term has BILLIONS of tf rows, and a one-task sort
    * of those is the difference between minutes and a wedged stage. */
  def tfidfTopK(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // sum(if tf >= 1) ≡ count(*) (tf = count(1) ≥ 1 by construction)
    // but depends on tf's VALUE, so column pruning cannot strip tf from
    // the df branch's inner aggregate: both branches canonicalize equal
    // and ReuseExchange collapses them onto ONE corpus scan + ONE
    // (doc_id, term) exchange read twice. A bare count(1) (and even
    // count(tf) — the optimizer rewrites count(non-null) to count(1))
    // prunes the branch into a distinct, and the corpus is scanned and
    // exploded TWICE (measured).
    val df = tf.groupBy("term")
      .agg(sum(when(col("tf") >= 1, 1L).otherwise(0L)).as("df"))
    val score = col("tf").cast("double") / col("df")
    val win = Window.partitionBy("doc_id").orderBy(score.desc, col("term").asc)
    tf.join(df, "term")
      .withColumn("rank", row_number().over(win))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
      .orderBy("doc_id", "rank")
  }

  /** BM25 retrieval: rank the corpus against a deterministic query-term
    * set (the `nTerms` highest-df terms, ties to the lexicographically
    * first — a data-derived stand-in for a user query, so the oracle
    * replays it) with the standard Okapi weighting, k1 = 1.2, b = 0.75.
    *
    * Determinism contract: idf quantizes to integer MICROS immediately
    * after the one `ln` (`round(ln(1 + (N − df + ½)/(df + ½)) · 10⁶)`),
    * each per-(doc,term) contribution quantizes to micros after one
    * mirrored float chain (both engines evaluate the identical
    * parenthesization of correctly-rounded ops; `ln` is the only
    * library-rounded step, and a 10⁻⁹-of-a-half-boundary flip is the
    * residual risk — hash-checked in practice), and the per-doc score is
    * an INTEGER sum of those micros, so float summation order never
    * matters.
    *
    * Scale shape: the 8-row query relation broadcasts onto the tf
    * relation (map-side semi-reduction to matched rows before any
    * exchange), doc lengths fold from the same (doc_id, term) exchange
    * the df branch reuses, and the final top-k is one
    * TakeOrderedAndProject — no global sort, no window over the corpus. */
  def bm25TopK(spark: SparkSession, dir: String, nTerms: Int = 8,
      k: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val tf = tok.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    // value-dependent sum keeps the branch canonicalization equal to tf's
    // (ReuseExchange onto ONE corpus scan — the tfidfTopK contract)
    val dfc = tf.groupBy("term")
      .agg(sum(when(col("tf") >= 1, 1L).otherwise(0L)).as("df"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val qidf = dfc.orderBy(desc("df"), asc("term")).limit(nTerms)
      .crossJoin(broadcast(stats))
      .select(col("term"),
        round(log(lit(1.0) +
          (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          lit(1000000.0)).cast("long").as("idf_micros"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val contrib = tf.join(broadcast(qidf), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        round((col("idf_micros").cast("double") * (col("tf") * lit(2.2))) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl") / avgdl))))
          .cast("long").as("sm"))
    val scored = contrib.groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("sm").as("score_micros"))
    scored.orderBy(desc("score_micros"), asc("doc_id")).limit(k)
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("score_micros"), asc("doc_id"))))
      .select(col("doc_id"), col("n_terms"), col("score_micros"),
        col("rank"))
      .orderBy("rank")
  }

  /** Bigram language-model negative log-likelihood per document — the
    * CCNet/KenLM-style perplexity screen: train add-one-smoothed bigram
    * conditionals on the corpus itself, score every document's mean
    * bigram NLL, and a pipeline drops the high-NLL (high-perplexity,
    * i.e. unlike-the-corpus) tail. Complements [[qualityModelScores]]
    * (a supervised token-weight model) with the UNSUPERVISED fluency
    * signal real pipelines pair it with.
    *
    * Determinism: each distinct bigram's
    * `nll = round(ln((c_x + V)/(c_xy + 1)) · 10⁶)` quantizes to integer
    * micros right after the one ln-of-one-division (the [[bm25TopK]]
    * contract); per-doc totals are integer sums, and the mean is one
    * final rounded division.
    *
    * Scale shape: ONE bigram explode feeds both the corpus counts and
    * the per-doc grain (ReuseExchange on the (doc_id, xy) aggregate is
    * not available across different keys, but both aggregates
    * map-combine, and the count relation is vocabulary²-bounded); the
    * doc-grain join on `xy` carries 1 row per key on the count side, so
    * hot bigrams skew partition sizes without row explosion (AQE skew
    * split territory, not a funnel). Docs with < 2 tokens have no
    * bigrams and are absent from the output (disclosed). */
  def lmNll(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val bgTok = d.select(col("doc_id"),
      explode(bigramsOf(toks(col("text")))).as("xy"))
    // ONE bigram explode: the doc grain is the primary aggregate and the
    // corpus counts re-fold from it (both map-combine), instead of a
    // second scan+Generate over the corpus for an independent count
    val docbg = bgTok.groupBy("doc_id", "xy").agg(count(lit(1)).as("n"))
    val bg = docbg.groupBy("xy").agg(sum("n").as("c_xy"))
    val cx = bg.select(substring_index(col("xy"), " ", 1).as("x"), col("c_xy"))
      .groupBy("x").agg(sum("c_xy").as("c_x"))
    val vocab = d.select(explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .agg(countDistinct("term").as("v"))
    val scoredBg = docbg
      .join(bg, Seq("xy"))
      .withColumn("x", substring_index(col("xy"), " ", 1))
      .join(cx, Seq("x"))
      .crossJoin(broadcast(vocab))
      .withColumn("nll_micros",
        round(log((col("c_x") + col("v")).cast("double") /
          (col("c_xy") + lit(1L))) * lit(1000000.0)).cast("long"))
    scoredBg.groupBy("doc_id")
      .agg(sum("n").as("n_bigrams"),
        sum(col("n") * col("nll_micros")).as("nll_sum_micros"))
      .withColumn("avg_nll_micros",
        round(col("nll_sum_micros").cast("double") / col("n_bigrams"))
          .cast("long"))
      .orderBy("doc_id")
  }

  /** Corpus-level top-20 collocations by PMI over adjacent word pairs
    * (min support 5), with the bigram-distribution MARGINALS as the
    * normalizer (`c_x = Σ_y c_xy`, `c_y = Σ_x c_xy` — the textbook PMI
    * table form): PMI's `log(N·c_xy / (c_x·c_y))` is monotone in
    * `c_xy / (c_x·c_y)`, so the ranking uses that single IEEE division
    * (integer operands — deterministic across engines, see [[tfidfTopK]])
    * and the output is integers only. ONE corpus scan + explode into one
    * map-side-combined pair aggregate; the marginals are two sum WINDOWS
    * over the reduced bigram relation; the final top-k is
    * TakeOrderedAndProject.
    *
    * Why the marginals stay WINDOWS (r14, measured): each window
    * partition holds one word's distinct-successor (or -predecessor)
    * rows — bounded by VOCABULARY, not corpus ("the" as x has at most
    * |vocab| successors however many billions of bigram tokens fold
    * into them), so no hot-key funnel exists here, unlike
    * [[tfidfTopK]]'s per-occurrence df. The aggregate+join-back
    * rewrite was A/B'd same-data at 5M docs and REVERTED: windows
    * [29.3, 20.0] s vs aggregate+join [53.7, 39.6] s
    * (BENCH_text_ab_r14.json) — the two extra map-combined folds plus
    * two joins of the vocab²-sized bigram relation cost more than the
    * two in-place window sorts ever do. */
  def pmiTopK(spark: SparkSession, dir: String, k: Int = 20,
      minCount: Long = 5L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val t = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
    t.filter(col("n") >= 2)
      .select(explode(transform(sequence(lit(1), col("n") - 1),
        i => struct(element_at(col("t"), i).as("x"),
          element_at(col("t"), (i + 1).cast("int")).as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
      .groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
      .withColumn("c_x", sum("c_xy").over(Window.partitionBy("x")))
      .withColumn("c_y", sum("c_xy").over(Window.partitionBy("y")))
      .filter(col("c_xy") >= minCount)
      .select("x", "y", "c_xy", "c_x", "c_y")
      .orderBy((col("c_xy").cast("double") / (col("c_x") * col("c_y"))).desc,
        col("x").asc, col("y").asc)
      .limit(k)
  }

  /** Deterministic global shuffle + shard manifest — the writer side of
    * "shuffle the corpus and emit N training shards". Each document's
    * shard and within-shard sort key derive from the md5 hash bucket +
    * doc_id (the same order/partition-independent draw as [[sampleDocs]]),
    * which decorrelates ingest/source/time order WITHOUT a global sort:
    * the write path is one hash `repartition(shards)` where each writer
    * sorts only its own shard (`sortWithinPartitions`), never a total
    * order over the corpus. The composite key (bucket · 2⁴⁰ + doc_id) is
    * collision-free for any doc_id < 2⁴⁰ and orders hash-major, so two
    * runs on differently-partitioned input produce byte-identical shards.
    * This query emits the shard MANIFEST a writer would publish: per-shard
    * document count, character mass, and key span. */
  def shardManifest(spark: SparkSession, dir: String, shards: Int = 16): DataFrame = {
    val bucket = hashBucket(col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"),
        (bucket % shards).as("shard_id"),
        (bucket * lit(1L << 40) + col("doc_id")).as("k"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("doc_count"), sum("n_chars").as("char_count"),
        min("k").as("min_key"), max("k").as("max_key"))
      .orderBy("shard_id")
  }

  /** TERM-FREQUENCY SPECTRUM (the Zipf audit): how many distinct terms
    * occur with corpus frequency in [2^(b−1), 2^b), plus each band's
    * occurrence mass. The standard corpus-health diagnostic — a natural
    * corpus shows a smooth heavy-tailed spectrum (hapax band largest,
    * mass concentrated in a few hot terms); template/boilerplate
    * contamination bulges the middle bands. Reading the slope from the
    * SPECTRUM avoids the global rank that a literal rank-frequency plot
    * needs — ranking a billion-term vocabulary is a global sort, while
    * the spectrum is two map-combined hash aggregates (term counts →
    * ≤ 64 bucket rows) with only (term, count) crossing the exchange.
    * Buckets via `length(bin(cnt))` — no log2/libm, same device as
    * `flow_ip_degree_dist`. */
  def freqSpectrum(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(explode(toks(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .groupBy(length(bin(col("cnt"))).cast("int").as("freq_bits"))
      .agg(count(lit(1)).as("n_terms"),
        sum("cnt").as("n_occurrences"),
        min("cnt").as("min_count"),
        max("cnt").as("max_count"))
      .orderBy("freq_bits")

  /** EXACT per-language LENGTH PERCENTILES (p50/p90/p99 of `n_chars`) by
    * RANK PICK: each percentile is the row at rank `⌈n·p/100⌉` under the
    * total order (n_chars, doc_id) — a PICK, never an interpolation, so
    * the value is bit-identical on any engine (the same device as
    * `flow_anomaly_mad`'s median). The length profile a chunk/pack
    * budget and a truncation policy are calibrated against, per
    * language.
    *
    * Scale shape (the r13 verdict's weak-spot rewrite): the corpus
    * reduces FIRST to the (lang, n_chars)-GRAIN histogram — one
    * map-combined hash aggregate whose exchange carries |langs| ×
    * |distinct n_chars| rows, never a document row — and the rank
    * arithmetic runs as cumulative windows over that grain relation
    * (thousands of rows at any corpus size, since n_chars is a bounded
    * int domain). The rank-r pick becomes an INTERVAL lookup: the grain
    * row whose cumulative range (lo, hi] contains r holds the exact
    * value a per-document rank window would have picked, because the
    * picked VALUE depends only on the length distribution, not on the
    * doc_id tie-break. English-at-web-scale (billions of docs in one
    * lang) now folds in parallel instead of one task's 10–100 GB
    * external sort. */
  def lenPctiles(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grain = Tables.documents(spark, dir)
      .groupBy("lang", "n_chars").agg(count(lit(1)).as("c"))
    val byLang = Window.partitionBy("lang")
    val cum = grain
      .withColumn("n", sum("c").over(byLang))
      .withColumn("hi", sum("c").over(byLang.orderBy(col("n_chars").asc)))
      .withColumn("lo", col("hi") - col("c"))
    def pick(p: Int): Column = {
      val t = expr(s"(n * $p + 99) div 100")
      max(when(col("lo") < t && t <= col("hi"), col("n_chars")))
    }
    cum.groupBy("lang")
      .agg(max("n").as("n_docs"),
        pick(50).as("p50_chars"),
        pick(90).as("p90_chars"),
        pick(99).as("p99_chars"))
      .orderBy("lang")
  }

  /** STOPWORD CANDIDATES by corpus document frequency — the data-driven
    * way curation pipelines derive their stopword / boilerplate lists
    * (a term in nearly every document carries no signal for tf-idf or
    * quality scoring). Per-doc dedup happens INSIDE the projection
    * (`array_distinct` before the explode), so the exchange carries each
    * (doc, term) pair once — not every occurrence; the corpus total
    * attaches as a broadcast 1-row relation and the top-k is
    * TakeOrderedAndProject. */
  def stopwordDf(spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
    val total = docs.agg(count(lit(1)).as("n_docs"))
    docs.select(explode(array_distinct(toks(col("text")))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(total))
      .select(col("term"), col("df"), col("n_docs"),
        round(col("df").cast("double") / col("n_docs").cast("double"), 6).as("df_ratio"))
      .orderBy(desc("df"), asc("term"))
      .limit(k)
  }

  /** TYPE-TOKEN RATIO per source — the vocabulary-richness slice of the
    * quality dashboard (templated/machine-generated sources sit far
    * below organic text). Ratios divide two exact integer token sums
    * once at the end, so the float never enters an aggregation; the
    * whole query is one map-combined aggregate to |sources| rows. */
  def ttrBySource(spark: SparkSession, dir: String): DataFrame = {
    val w = toks(col("text"))
    Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select(col("source"), size(w).cast("long").as("tc"),
        size(array_distinct(w)).cast("long").as("dt"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("tc").as("total_tokens"),
        sum("dt").as("distinct_tokens"),
        round(sum("dt").cast("double") / sum("tc").cast("double"), 6).as("ttr"))
      .orderBy("source")
  }

  /** BIGRAM TEMPLATE COVERAGE per source — what fraction of a source's
    * bigram occurrences fall in the corpus-wide top-100 bigram list: high
    * coverage marks templated/boilerplate-heavy sources (navigation
    * chrome, legal footers), the sources a mixing pass down-weights.
    * Two corpus passes by design: pass 1 builds the top list (map-side
    * combined gram counts → TakeOrderedAndProject — [[ngramTopK]]'s
    * measured-winner shape), which then BROADCASTS (100 rows) onto pass
    * 2's explode, so the membership test never shuffles; per-source
    * totals come from one map-combined aggregate. Deterministic
    * (count desc, gram asc) tie-break makes the top list — and hence the
    * coverage — oracle-stable. */
  def bigramCoverage(spark: SparkSession, dir: String, topK: Int = 100): DataFrame = {
    // ONE corpus explode (r13 rewrite, same-data A/B in the commit): the
    // corpus folds once to the (source, bigram) occurrence grain and is
    // PINNED; the top list re-aggregates from it and the coverage join
    // runs against the same vocab-sized relation — the original two-pass
    // form exploded the corpus twice and joined the top list onto the
    // full occurrence stream (115M rows at 5M docs) instead of the
    // reduced grain.
    val bySource = Tables.documents(spark, dir)
      .filter(col("text").isNotNull)
      .select(col("source"), toks(col("text")).as("t"))
      .withColumn("n", size(col("t")))
      .filter(col("n") >= 2)
      .select(col("source"), explode(bigramsOf(col("t"))).as("bigram"))
      .groupBy("source", "bigram").agg(count(lit(1)).as("c"))
      .transform(graft.Storage.materializeOnce)
    val top = bySource
      .groupBy("bigram").agg(sum("c").as("tc"))
      .orderBy(desc("tc"), asc("bigram")).limit(topK)
      .select(col("bigram").as("top_gram"))
    bySource
      .join(broadcast(top), col("bigram") === col("top_gram"), "left_outer")
      .groupBy("source")
      .agg(sum("c").as("total_bigrams"),
        sum(when(col("top_gram").isNotNull, col("c")).otherwise(0L)).as("covered_bigrams"))
      .withColumn("coverage",
        round(col("covered_bigrams").cast("double") / col("total_bigrams").cast("double"), 6))
      .orderBy("source")
  }

  val queries: Map[String, Q] = Map(
    "text_stopword_df" -> ((s: SparkSession, d: String) => stopwordDf(s, d)),
    "text_ttr_by_source" -> (ttrBySource _),
    "text_bigram_coverage" -> ((s: SparkSession, d: String) => bigramCoverage(s, d)),
    "text_freq_spectrum" -> (freqSpectrum _),
    "text_len_pctiles" -> (lenPctiles _),
    "text_gopher_quality" -> (gopherQuality _),
    "text_bow_dedup" -> (bowDedup _),
    "text_tfidf_topk" -> ((s: SparkSession, d: String) => tfidfTopK(s, d)),
    "text_bm25_topk" -> ((s: SparkSession, d: String) => bm25TopK(s, d)),
    "text_lm_nll" -> ((s: SparkSession, d: String) => lmNll(s, d)),
    "text_pmi_topk" -> ((s: SparkSession, d: String) => pmiTopK(s, d)),
    "text_ngram_topk" -> ((s: SparkSession, d: String) => ngramTopK(s, d)),
    "text_shard_manifest" -> ((s: SparkSession, d: String) => shardManifest(s, d)),
    "text_pii_scrub" -> (piiScrub _),
    "text_vocab_oov" -> ((s: SparkSession, d: String) => vocabOovStats(s, d)),
    "text_prep_pipeline" -> ((s: SparkSession, d: String) => prepPipeline(s, d)),
    "text_mix" -> ((s: SparkSession, d: String) => mixWeights(s, d)),
    "text_chunks" -> ((s: SparkSession, d: String) => chunkDocs(s, d)),
    "text_pack" -> ((s: SparkSession, d: String) => packDocs(s, d)),
    "text_tokenize" -> ((s: SparkSession, d: String) => tokenize(s, d)),
    "text_pack_tokens" -> ((s: SparkSession, d: String) => packDocsTokens(s, d)),
    "text_quality_model_weights" ->
      ((s: SparkSession, d: String) => qualityModelWeights(s, d)),
    "text_quality_model" ->
      ((s: SparkSession, d: String) => qualityModelScores(s, d)),
    "text_quality_model_agreement" ->
      ((s: SparkSession, d: String) => qualityModelAgreement(s, d)),
    "text_token_stats" -> (tokenStats _),
    "text_source_cap" -> ((s: SparkSession, d: String) => sourceCap(s, d)),
    "text_quality" -> (qualityScore _),
    "text_repetition" -> (repetitionStats _),
    "text_langid" -> (langId _),
    "text_langid_eval" -> (langIdEval _),
    "text_fingerprint" -> (fingerprint _),
    "text_sample" -> ((s: SparkSession, d: String) => sampleDocs(s, d)),
    "text_weighted_sample" -> ((s: SparkSession, d: String) => weightedSample(s, d)),
    "text_stratified_sample" -> ((s: SparkSession, d: String) => stratifiedSample(s, d)),
    "text_split_counts" -> ((s: SparkSession, d: String) => splitCounts(s, d)))

  val oracles: Map[String, String] = {
    val w = "regexp_split_to_array(trim(text), '\\s+')"
    val stopSum = StopWords
      .map(s => s"CAST(list_contains(w, '$s') AS INT)").mkString(" + ")
    Map(
      "text_stopword_df" ->
        s"""WITH tok AS (SELECT unnest(list_distinct($w)) AS term FROM documents
           |   WHERE text IS NOT NULL),
           | df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tok
           |   WHERE term <> '' GROUP BY 1),
           | n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
           |   WHERE text IS NOT NULL)
           |SELECT term, df, n_docs,
           |  round(CAST(df AS DOUBLE) / n_docs, 6) AS df_ratio
           |FROM df, n ORDER BY df DESC, term LIMIT 20""".stripMargin.replace('\n', ' '),
      "text_bigram_coverage" ->
        s"""WITH t AS (SELECT source, $w AS w FROM documents WHERE text IS NOT NULL),
           | b AS (SELECT source, w[i] || ' ' || w[i+1] AS bigram
           |   FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
           |   WHERE len(w) >= 2),
           | top AS (SELECT bigram, count(*) AS c FROM b GROUP BY 1
           |   ORDER BY c DESC, bigram LIMIT 100)
           |SELECT source, count(*) AS total_bigrams,
           |  CAST(sum(CASE WHEN bigram IN (SELECT bigram FROM top) THEN 1 ELSE 0 END) AS BIGINT)
           |    AS covered_bigrams,
           |  round(CAST(sum(CASE WHEN bigram IN (SELECT bigram FROM top) THEN 1 ELSE 0 END) AS DOUBLE)
           |    / count(*), 6) AS coverage
           |FROM b GROUP BY 1 ORDER BY source""".stripMargin.replace('\n', ' '),
      "text_ttr_by_source" ->
        s"""WITH b AS (SELECT source, CAST(len($w) AS BIGINT) AS tc,
           |   CAST(len(list_distinct($w)) AS BIGINT) AS dt
           | FROM documents WHERE text IS NOT NULL)
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(tc) AS BIGINT) AS total_tokens,
           |  CAST(sum(dt) AS BIGINT) AS distinct_tokens,
           |  round(CAST(sum(dt) AS DOUBLE) / sum(tc), 6) AS ttr
           |FROM b GROUP BY source ORDER BY source""".stripMargin.replace('\n', ' '),
      "text_freq_spectrum" ->
        s"""WITH tok AS (SELECT unnest($w) AS term FROM documents
           |   WHERE text IS NOT NULL),
           | tf AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok
           |   WHERE term <> '' GROUP BY 1)
           |SELECT CAST(length(bin(cnt)) AS INT) AS freq_bits, count(*) AS n_terms,
           |  CAST(sum(cnt) AS BIGINT) AS n_occurrences,
           |  CAST(min(cnt) AS BIGINT) AS min_count,
           |  CAST(max(cnt) AS BIGINT) AS max_count
           |FROM tf GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' '),
      "text_len_pctiles" ->
        """WITH d AS (SELECT lang, doc_id, n_chars,
          |   row_number() OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS r,
          |   count(*) OVER (PARTITION BY lang) AS n
          | FROM documents)
          |SELECT lang, CAST(max(n) AS BIGINT) AS n_docs,
          |  CAST(max(CASE WHEN r = (n * 50 + 99) // 100 THEN n_chars END) AS BIGINT) AS p50_chars,
          |  CAST(max(CASE WHEN r = (n * 90 + 99) // 100 THEN n_chars END) AS BIGINT) AS p90_chars,
          |  CAST(max(CASE WHEN r = (n * 99 + 99) // 100 THEN n_chars END) AS BIGINT) AS p99_chars
          |FROM d GROUP BY lang ORDER BY lang""".stripMargin.replace('\n', ' '),
      "text_gopher_quality" ->
        s"""WITH b AS (SELECT doc_id, $w AS w,
           |   CAST(len(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS nonspace_chars
           |   FROM documents),
           | c AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS word_count, nonspace_chars,
           |   CAST(len(w) - len(list_distinct(w)) AS BIGINT) AS dup_tokens,
           |   CAST($stopSum AS BIGINT) AS stop_kinds FROM b),
           | r AS (SELECT *,
           |   CAST(word_count >= 20 AND word_count <= 500 AS INT) AS r_word_count,
           |   CAST(nonspace_chars >= word_count * 3 AND nonspace_chars <= word_count * 10 AS INT) AS r_mean_word_len,
           |   CAST(stop_kinds >= 2 AS INT) AS r_stopwords,
           |   CAST(dup_tokens * 2 < word_count AS INT) AS r_dup_frac FROM c)
           | SELECT doc_id, word_count, nonspace_chars, dup_tokens, stop_kinds,
           |   r_word_count, r_mean_word_len, r_stopwords, r_dup_frac,
           |   r_word_count * r_mean_word_len * r_stopwords * r_dup_frac AS keep
           | FROM r ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_bow_dedup" ->
        s"""SELECT doc_id, lang, source, n_chars, dup_count FROM (
           |  SELECT *, min(doc_id) OVER (PARTITION BY k) AS canonical_id,
           |    CAST(count(*) OVER (PARTITION BY k) AS BIGINT) AS dup_count
           |  FROM (SELECT *, coalesce(md5(array_to_string(list_sort($w), ' ')),
           |    '__null__' || doc_id) AS k FROM documents))
           | WHERE doc_id = canonical_id ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_tfidf_topk" ->
        s"""WITH tok AS (SELECT doc_id, unnest($w) AS term FROM documents
           |   WHERE text IS NOT NULL),
           | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
           |   WHERE term <> '' GROUP BY 1, 2),
           | dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           | j AS (SELECT doc_id, term, tf, df, row_number() OVER (
           |     PARTITION BY doc_id ORDER BY CAST(tf AS DOUBLE) / df DESC, term ASC) AS rn
           |   FROM tf JOIN dfc USING (term))
           | SELECT doc_id, CAST(rn AS INT) AS rank, term, tf, df FROM j
           | WHERE rn <= 5 ORDER BY doc_id, rank""".stripMargin.replace('\n', ' '),
      "text_bm25_topk" ->
        s"""WITH tok AS (SELECT doc_id, unnest($w) AS term FROM documents
           |   WHERE text IS NOT NULL),
           | tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM tok
           |   WHERE term <> '' GROUP BY 1, 2),
           | dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
           | dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
           | stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |   CAST(sum(dl) AS BIGINT) AS sum_dl FROM dl),
           | qterms AS (SELECT term, df FROM (SELECT term, df,
           |     row_number() OVER (ORDER BY df DESC, term ASC) AS rn FROM dfc)
           |   WHERE rn <= 8),
           | qidf AS (SELECT term, CAST(round(ln(1.0 +
           |     (s.n_docs - df + 0.5) / (df + 0.5)) * 1000000.0) AS BIGINT) AS idf_micros
           |   FROM qterms, stats s),
           | contrib AS (SELECT tf.doc_id, CAST(round(
           |     (CAST(q.idf_micros AS DOUBLE) * (tf.tf * 2.2)) /
           |     (tf.tf + 1.2 * (0.25 + 0.75 *
           |       (dl.dl / (CAST(s.sum_dl AS DOUBLE) / s.n_docs))))) AS BIGINT) AS sm
           |   FROM tf JOIN qidf q USING (term)
           |   JOIN dl ON dl.doc_id = tf.doc_id, stats s),
           | scored AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
           |   CAST(sum(sm) AS BIGINT) AS score_micros FROM contrib GROUP BY 1)
           |SELECT doc_id, n_terms, score_micros, CAST(rn AS INT) AS rank FROM (
           |  SELECT *, row_number() OVER (
           |    ORDER BY score_micros DESC, doc_id ASC) AS rn FROM scored)
           |WHERE rn <= 20 ORDER BY rank""".stripMargin.replace('\n', ' '),
      "text_lm_nll" ->
        s"""WITH d AS (SELECT doc_id, $w AS w FROM documents WHERE text IS NOT NULL),
           | bgt AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS xy
           |   FROM d, UNNEST(generate_series(1, len(w) - 1)) AS u(i)),
           | bg AS (SELECT xy, CAST(count(*) AS BIGINT) AS c_xy FROM bgt GROUP BY 1),
           | cx AS (SELECT split_part(xy, ' ', 1) AS x,
           |   CAST(sum(c_xy) AS BIGINT) AS c_x FROM bg GROUP BY 1),
           | voc AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS v
           |   FROM (SELECT unnest(w) AS term FROM d) WHERE term <> ''),
           | docbg AS (SELECT doc_id, xy, CAST(count(*) AS BIGINT) AS n
           |   FROM bgt GROUP BY 1, 2),
           | sc AS (SELECT db.doc_id, db.n, CAST(round(ln(
           |     CAST(cx.c_x + voc.v AS DOUBLE) / (bg.c_xy + 1)) * 1000000.0) AS BIGINT) AS nll
           |   FROM docbg db JOIN bg USING (xy)
           |   JOIN cx ON cx.x = split_part(db.xy, ' ', 1), voc)
           |SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
           |  CAST(sum(n * nll) AS BIGINT) AS nll_sum_micros,
           |  CAST(round(CAST(sum(n * nll) AS DOUBLE) / sum(n)) AS BIGINT) AS avg_nll_micros
           |FROM sc GROUP BY 1 ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_pmi_topk" ->
        s"""WITH t AS (SELECT $w AS w FROM documents WHERE text IS NOT NULL),
           | pairs AS (SELECT w[i] AS x, w[i+1] AS y
           |   FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
           |   WHERE len(w) >= 2),
           | bi AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy FROM pairs
           |   GROUP BY 1, 2),
           | m AS (SELECT *, CAST(sum(c_xy) OVER (PARTITION BY x) AS BIGINT) AS c_x,
           |   CAST(sum(c_xy) OVER (PARTITION BY y) AS BIGINT) AS c_y FROM bi)
           | SELECT x, y, c_xy, c_x, c_y FROM m WHERE c_xy >= 5
           | ORDER BY CAST(c_xy AS DOUBLE) / (c_x * c_y) DESC, x, y
           | LIMIT 20""".stripMargin.replace('\n', ' '),
      "text_ngram_topk" ->
        s"""WITH t AS (SELECT $w AS w FROM documents WHERE text IS NOT NULL),
           | b AS (SELECT w[i] || ' ' || w[i+1] AS bigram
           |   FROM t, UNNEST(generate_series(1, len(w) - 1)) AS u(i)
           |   WHERE len(w) >= 2)
           | SELECT bigram, count(*) AS n_occurrences FROM b GROUP BY bigram
           | ORDER BY n_occurrences DESC, bigram LIMIT 20""".stripMargin.replace('\n', ' '),
      "text_shard_manifest" ->
        s"""WITH s AS (SELECT doc_id, n_chars,
           |   ($duckHashBucket % 16) AS shard_id,
           |   $duckHashBucket * ${1L << 40} + doc_id AS k FROM documents)
           | SELECT shard_id, count(*) AS doc_count,
           | CAST(sum(n_chars) AS BIGINT) AS char_count,
           | min(k) AS min_key, max(k) AS max_key
           | FROM s GROUP BY shard_id ORDER BY shard_id""".stripMargin.replace('\n', ' '),
      "text_pii_scrub" ->
        s"""WITH a AS (
           |  SELECT doc_id,
           |    CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS email_count,
           |    regexp_replace(text, '$EmailRe', '<EMAIL>', 'g') AS t1
           |  FROM documents
           |), b AS (
           |  SELECT doc_id, email_count,
           |    CAST(len(regexp_extract_all(t1, '$Ip4Re')) AS BIGINT) AS ip_count,
           |    regexp_replace(t1, '$Ip4Re', '<IP>', 'g') AS t2
           |  FROM a
           |), cph AS (
           |  SELECT doc_id, email_count, ip_count,
           |    CAST(len(regexp_extract_all(t2, '$PhoneRe')) AS BIGINT) AS phone_count,
           |    regexp_replace(t2, '$PhoneRe', '<PHONE>', 'g') AS t3
           |  FROM b
           |)
           |SELECT doc_id, email_count, ip_count, phone_count,
           |  email_count + ip_count + phone_count AS pii_total,
           |  md5(t3) AS scrubbed_md5
           |FROM cph ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_vocab_oov" ->
        s"""WITH tokv AS (
           |  SELECT doc_id, unnest($w) AS tok FROM documents WHERE text IS NOT NULL
           |), cnt AS (
           |  SELECT tok, count(*) AS c FROM tokv GROUP BY tok
           |), vocab AS (
           |  SELECT tok FROM cnt ORDER BY c DESC, tok ASC LIMIT 1000
           |), per AS (
           |  SELECT t.doc_id, count(*) AS token_count,
           |    sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS oov_tokens,
           |    sum(CASE WHEN c.c <= 1 THEN 1 ELSE 0 END) AS rare_tokens
           |  FROM tokv t JOIN cnt c ON c.tok = t.tok
           |  LEFT JOIN vocab v ON v.tok = t.tok
           |  GROUP BY t.doc_id
           |)
           |SELECT d.doc_id, CAST(per.token_count AS BIGINT) AS token_count,
           |  CAST(per.oov_tokens AS BIGINT) AS oov_tokens,
           |  CAST(per.rare_tokens AS BIGINT) AS rare_tokens,
           |  round(CAST(per.oov_tokens AS BIGINT) / CAST(per.token_count AS BIGINT), 6) AS oov_rate,
           |  round(CAST(per.rare_tokens AS BIGINT) / CAST(per.token_count AS BIGINT), 6) AS rare_rate
           |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
           |ORDER BY d.doc_id""".stripMargin.replace('\n', ' '),
      "text_prep_pipeline" ->
        """WITH ch0 AS (
          |  SELECT source, doc_id, text,
          |    unnest(range(0, greatest(1, (n_chars - 128 + 383) // 384))) AS chunk_idx
          |  FROM documents
          |), ch AS (
          |  SELECT source, doc_id, chunk_idx,
          |    md5(substr(text, CAST(chunk_idx * 384 + 1 AS INT), 512)) AS h,
          |    CAST(len(substr(text, CAST(chunk_idx * 384 + 1 AS INT), 512)) AS BIGINT) AS chunk_len
          |  FROM ch0
          |), kept AS (
          |  SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn FROM ch)
          |  WHERE rn = 1
          |), cum AS (
          |  SELECT source, doc_id, chunk_idx, chunk_len,
          |    coalesce(sum(chunk_len) OVER (
          |      PARTITION BY source ORDER BY doc_id, chunk_idx
          |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
          |  FROM kept
          |)
          |SELECT source, CAST(cum_before // 2048 AS BIGINT) AS pack_id,
          |  count(*) AS chunk_count, CAST(sum(chunk_len) AS BIGINT) AS sum_chars,
          |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
          |FROM cum GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin.replace('\n', ' '),
      "text_mix" ->
        s"""WITH src AS (
           |  SELECT source, count(*) AS n_docs,
           |    CAST(sum(len($w)) AS BIGINT) AS sum_tokens FROM documents GROUP BY 1
           |), fixed AS (
           |  SELECT *, CAST(floor(sqrt(CAST(sum_tokens AS DOUBLE)) * 10000) AS BIGINT) AS raw_w FROM src
           |), tot AS (
           |  SELECT *, CAST(sum(raw_w) OVER () AS BIGINT) AS total_w FROM fixed
           |)
           |SELECT source, n_docs, sum_tokens,
           |  round(CAST(raw_w AS DOUBLE) / total_w, 4) AS weight,
           |  CAST(raw_w * 1000000 // total_w AS BIGINT) AS docs_per_million
           |FROM tot ORDER BY source""".stripMargin.replace('\n', ' '),
      "text_chunks" ->
        """WITH ch AS (
          |  SELECT doc_id, text,
          |    unnest(range(0, greatest(1, (n_chars - 128 + 383) // 384))) AS chunk_idx
          |  FROM documents
          |)
          |SELECT doc_id, chunk_idx, chunk_idx * 384 AS chunk_start,
          |  substr(text, CAST(chunk_idx * 384 + 1 AS INT), 512) AS chunk_text,
          |  CAST(len(substr(text, CAST(chunk_idx * 384 + 1 AS INT), 512)) AS BIGINT) AS chunk_len
          |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin.replace('\n', ' '),
      "text_pack" ->
        s"""WITH tok AS (
           |  SELECT source, doc_id, CAST(len($w) AS BIGINT) AS token_count FROM documents
           |), cum AS (
           |  SELECT *, coalesce(sum(token_count) OVER (
           |    PARTITION BY source ORDER BY doc_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM tok
           |)
           |SELECT source, CAST(cum_before // 4096 AS BIGINT) AS pack_id, count(*) AS doc_count,
           |  CAST(sum(token_count) AS BIGINT) AS sum_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM cum GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin.replace('\n', ' '),
      "text_tokenize" ->
        s"""$duckTokenWalk
           |SELECT doc_id, n_tokens, n_unknown FROM tc
           |ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_pack_tokens" ->
        s"""$duckTokenWalk,
           | j AS (SELECT dd.source, dd.doc_id, tc.n_tokens AS token_count
           |   FROM documents dd JOIN tc USING (doc_id)),
           | cum AS (SELECT *, coalesce(sum(token_count) OVER (
           |   PARTITION BY source ORDER BY doc_id
           |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM j)
           |SELECT source, CAST(cum_before // 512 AS BIGINT) AS pack_id,
           |  count(*) AS doc_count, CAST(sum(token_count) AS BIGINT) AS sum_tokens,
           |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
           |FROM cum GROUP BY 1, 2 ORDER BY source, pack_id""".stripMargin.replace('\n', ' '),
      "text_quality_model_weights" ->
        s"""$duckQualityCtes
           |SELECT t.tid, CASE WHEN t.tid = -1 THEN '<unk>'
           |  ELSE (SELECT tok FROM v WHERE v.id = t.tid) END AS token,
           |  t.n_pos, t.n_neg, CAST(t.w_milli AS BIGINT) AS w_milli
           |FROM wt t ORDER BY t.tid""".stripMargin.replace('\n', ' '),
      "text_quality_model" ->
        s"""$duckQualityCtes
           |SELECT doc_id, n_tokens, score_sum, mean_milli,
           |  CAST(CASE WHEN mean_milli >= 500 THEN 1 ELSE 0 END AS INT) AS keep
           |FROM fin ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_quality_model_agreement" ->
        s"""$duckQualityCtes
           |SELECT l.pos_label AS gopher_keep,
           |  CAST(CASE WHEN f.mean_milli >= 500 THEN 1 ELSE 0 END AS INT) AS model_keep,
           |  CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(f.n_tokens) AS BIGINT) AS sum_tokens
           |FROM fin f JOIN lbl l USING (doc_id)
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin.replace('\n', ' '),
      "text_token_stats" ->
        s"""SELECT doc_id, n_chars, len(text) AS char_count,
           | CAST(len($w) AS BIGINT) AS token_count,
           | CAST(len(list_distinct($w)) AS BIGINT) AS distinct_tokens,
           | CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]')) AS BIGINT) AS bpe_token_count,
           | CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) / len($w) AS avg_alpha_per_token
           | FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_repetition" ->
        s"""WITH toksr AS (
           |  SELECT doc_id, $w AS t FROM documents
           |), dd AS (
           |  SELECT doc_id, t, len(t) AS n FROM toksr
           |), tokc AS (
           |  SELECT doc_id, max(c) AS top_token_count FROM (
           |    SELECT doc_id, g, count(*) AS c FROM (
           |      SELECT doc_id, unnest(t) AS g FROM dd) GROUP BY 1, 2) GROUP BY doc_id
           |), bic AS (
           |  SELECT doc_id, max(c) AS top_bigram_count FROM (
           |    SELECT doc_id, g, count(*) AS c FROM (
           |      SELECT doc_id, unnest(list_transform(generate_series(1, n - 1),
           |        i -> t[i] || ' ' || t[i+1])) AS g FROM dd WHERE n >= 2)
           |    GROUP BY 1, 2) GROUP BY doc_id
           |)
           |SELECT dd.doc_id, CAST(n AS BIGINT) AS token_count,
           |  CAST(coalesce(tokc.top_token_count, 0) AS BIGINT) AS top_token_count,
           |  CAST(coalesce(bic.top_bigram_count, 0) AS BIGINT) AS top_bigram_count,
           |  round(CAST(coalesce(tokc.top_token_count, 0) AS BIGINT) / CAST(n AS BIGINT), 6) AS top_token_frac,
           |  CASE WHEN n >= 2 THEN round(CAST(coalesce(bic.top_bigram_count, 0) AS BIGINT) / CAST(n - 1 AS BIGINT), 6)
           |       ELSE 0.0 END AS top_bigram_frac
           |FROM dd LEFT JOIN tokc ON tokc.doc_id = dd.doc_id
           |LEFT JOIN bic ON bic.doc_id = dd.doc_id
           |ORDER BY dd.doc_id""".stripMargin.replace('\n', ' '),
      "text_quality" ->
        s"""SELECT doc_id,
           | CAST(len($w) AS BIGINT) AS token_count,
           | CAST(len(regexp_replace(text, '[^a-z]', '', 'g')) AS BIGINT) AS alpha_chars,
           | CAST(len(text) - len(replace(text, ' ', '')) AS BIGINT) AS space_chars,
           | CAST(${duckSubCount("text", "the ")} + ${duckSubCount("text", "a ")} + ${duckSubCount("text", "of ")} AS BIGINT) AS stop_hits,
           | CAST(len(list_distinct($w)) AS BIGINT) / len($w) AS distinct_ratio,
           | CAST((CASE WHEN len($w) BETWEEN 10 AND 1000 THEN 1 ELSE 0 END)
           |  + (CASE WHEN len(regexp_replace(text, '[^a-z]', '', 'g')) * 10 > len(text) * 7 THEN 1 ELSE 0 END)
           |  + (CASE WHEN ${duckSubCount("text", "the ")} + ${duckSubCount("text", "a ")} + ${duckSubCount("text", "of ")} > 0 THEN 1 ELSE 0 END) AS INT) AS quality_score
           | FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_langid" -> {
        def hits(ms: Seq[String]) =
          ms.map(m => duckSubCount("(' ' || lower(text) || ' ')", s" $m ")).mkString(" + ")
        val en = hits(Seq("the", "and", "of"))
        val es = hits(Seq("el", "la", "de"))
        val de = hits(Seq("und", "der", "die"))
        val fr = hits(Seq("le", "et", "les"))
        s"""SELECT doc_id, lang AS label_lang,
           | CAST($en AS BIGINT) AS en_hits, CAST($es AS BIGINT) AS es_hits,
           | CAST($de AS BIGINT) AS de_hits, CAST($fr AS BIGINT) AS fr_hits,
           | CASE WHEN ($en) >= ($es) AND ($en) >= ($de) AND ($en) >= ($fr) AND ($en) > 0 THEN 'en'
           |  WHEN ($es) >= ($de) AND ($es) >= ($fr) AND ($es) > 0 THEN 'es'
           |  WHEN ($de) >= ($fr) AND ($de) > 0 THEN 'de'
           |  WHEN ($fr) > 0 THEN 'fr'
           |  ELSE 'und' END AS predicted_lang
           | FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' ')
      },
      "text_langid_eval" -> {
        def hits(ms: Seq[String]) =
          ms.map(m => duckSubCount("(' ' || lower(text) || ' ')", s" $m ")).mkString(" + ")
        val en = hits(Seq("the", "and", "of"))
        val es = hits(Seq("el", "la", "de"))
        val de = hits(Seq("und", "der", "die"))
        val fr = hits(Seq("le", "et", "les"))
        s"""WITH p AS (SELECT lang AS label_lang,
           | CASE WHEN ($en) >= ($es) AND ($en) >= ($de) AND ($en) >= ($fr) AND ($en) > 0 THEN 'en'
           |  WHEN ($es) >= ($de) AND ($es) >= ($fr) AND ($es) > 0 THEN 'es'
           |  WHEN ($de) >= ($fr) AND ($de) > 0 THEN 'de'
           |  WHEN ($fr) > 0 THEN 'fr'
           |  ELSE 'und' END AS predicted_lang
           | FROM documents),
           | c AS (SELECT label_lang, predicted_lang, count(*) AS n_docs
           |  FROM p GROUP BY 1, 2)
           |SELECT label_lang, predicted_lang, n_docs,
           | round(CAST(n_docs AS DOUBLE)
           |  / CAST(sum(n_docs) OVER (PARTITION BY label_lang) AS DOUBLE), 6) AS label_share
           |FROM c ORDER BY label_lang, predicted_lang""".stripMargin.replace('\n', ' ')
      },
      "text_fingerprint" ->
        """SELECT doc_id,
          | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS content_md5,
          | substring(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 16) AS fp64
          | FROM documents ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_sample" ->
        s"""SELECT doc_id, lang, source, n_chars FROM documents
           | WHERE $duckHashBucket < 1000 ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_weighted_sample" ->
        s"""SELECT doc_id, source, n_chars,
           | n_chars * ${duckHash24Of("doc_id")} AS priority
           | FROM documents ORDER BY priority DESC, doc_id LIMIT 100""".stripMargin.replace('\n', ' '),
      "text_stratified_sample" ->
        s"""SELECT doc_id, lang, source, n_chars FROM documents
           | WHERE $duckHashBucket < (CASE WHEN lang = 'en' THEN 500 ELSE 3000 END)
           | ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_source_cap" ->
        s"""SELECT doc_id, source, lang, n_chars FROM (
           |  SELECT doc_id, source, lang, n_chars,
           |    row_number() OVER (PARTITION BY source
           |      ORDER BY $duckHashBucket, doc_id) AS rn
           |  FROM documents)
           | WHERE rn <= 10 ORDER BY doc_id""".stripMargin.replace('\n', ' '),
      "text_split_counts" ->
        s"""SELECT CASE WHEN $duckHashBucket < 500 THEN 'val'
           |   WHEN $duckHashBucket < 1000 THEN 'test' ELSE 'train' END AS split,
           | lang, count(*) AS doc_count, CAST(sum(n_chars) AS BIGINT) AS char_count
           | FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin.replace('\n', ' '))
  }
}
