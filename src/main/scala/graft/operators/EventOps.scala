package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Product-analytics surface over the driver's `events` table (event_id,
  * ts, user_id, event_type, value, props) — the cohort / funnel /
  * semi-structured-extraction operator families an analytics engine is
  * expected to cover beyond the flow dashboards. All aggregates are
  * integer-only (counts and flags), so oracle parity is exact; epoch
  * seconds derive from the micros-NTZ `ts` exactly as
  * [[graft.flow.FlowAdapter]] established (session timezone pinned UTC).
  *
  * Scale shapes:
  *  - retention: the (user, week) distinct is the only corpus-sized
  *    shuffle; the lag window then runs per-user on the already-reduced
  *    relation (≤ weeks rows per user).
  *  - funnel: one hash aggregate keyed user_id with conditional-min
  *    stage timestamps — no joins, no explode; the per-user row is fixed
  *    width regardless of event count.
  *  - props extraction: map-side JSON path evaluation (codegen'd
  *    `get_json_object`), then an ordinary partial-combined aggregate.
  */
object EventOps {
  type Q = (SparkSession, String) => DataFrame

  private val WeekSec = 604800L
  /** Session gap, shared with the oracle rendering (anti-drift rule). */
  val SessionGapSec: Long = 1800L

  /** Week-over-week cohort retention: per week, how many users were
    * active, how many were also active the PREVIOUS week (retained), and
    * how many had never been active before (new). */
  def retention(spark: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(spark, dir)
      .select((expr("unix_timestamp(ts) div 604800") * WeekSec).as("week"), col("user_id"))
      .distinct()
    val byUser = Window.partitionBy("user_id")
    uw
      .withColumn("prev_week", lag("week", 1).over(byUser.orderBy("week")))
      .withColumn("first_week", min("week").over(byUser))
      .groupBy("week")
      .agg(
        count(lit(1)).as("active_users"),
        sum(when(col("prev_week") === col("week") - WeekSec, 1).otherwise(0)).as("retained_users"),
        sum(when(col("first_week") === col("week"), 1).otherwise(0)).as("new_users"))
      .orderBy("week")
  }

  /** Ordered conversion funnel view → click → signup → purchase: a user
    * counts at a stage only if their FIRST occurrence of each stage
    * event is at-or-after the first occurrence of the previous stage —
    * the classic time-ordered funnel, via conditional-min timestamps
    * (micros precision carries through the NTZ comparison). One row. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "signup", col("ts"))).as("t_signup"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_purchase"))
    val s1 = col("t_view").isNotNull
    val s2 = s1 && col("t_click") >= col("t_view")
    val s3 = s2 && col("t_signup") >= col("t_click")
    val s4 = s3 && col("t_purchase") >= col("t_signup")
    m.agg(
      sum(when(s1, 1).otherwise(0)).as("view_users"),
      sum(when(s2, 1).otherwise(0)).as("click_users"),
      sum(when(s3, 1).otherwise(0)).as("signup_users"),
      sum(when(s4, 1).otherwise(0)).as("purchase_users"))
  }

  /** Semi-structured extraction: pull the integer `$.k` out of the JSON
    * `props` payload (codegen'd `get_json_object`, no UDF) and aggregate
    * it per event type — the "typed metadata out of a JSON blob" step
    * every event pipeline runs before analytics. */
  def propsStats(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        count(col("k")).as("n_with_k"),
        sum("k").as("k_sum"), min("k").as("k_min"), max("k").as("k_max"))
      .orderBy("event_type")

  /** Pivot: weekly activity matrix — one row per week, one count column
    * per event type (explicit value list, so the plan is a single
    * conditional aggregate with NO values-discovery pre-pass; an open
    * pivot would first scan for distinct types). */
  def typePivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select((expr("unix_timestamp(ts) div 604800") * WeekSec).as("week"), col("event_type"))
      .groupBy("week")
      .pivot("event_type", Seq("view", "click", "signup", "purchase", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("week")

  /** DAU / trailing-7-day WAU / stickiness — the engagement panel. The
    * (user, day) distinct is the one corpus-sized reduction; the WAU side
    * then explodes each active (user, day) into the 7 calendar days it
    * contributes to (bounded ×7 amplification of the REDUCED relation,
    * not the event stream) and distinct-counts per day. Stickiness is a
    * single division of two exact longs, rounded once — oracle-stable.
    *
    * THIS EXACT FORM IS THE LAST SCALE FUNNEL OF THE FAMILY (r14 verdict
    * #1): the WAU exchange carries 7× the corpus-sized (day, user)
    * distinct relation and the per-day `countDistinct` is another Expand
    * — 34.5 s at 50 M events and growing linearly with users. Use
    * [[dauWauSketch]] (`events_dau_wau_sketch`) at fact scale: ONE daily
    * theta-sketch relation, WAU = 7-day sketch union, the exchange
    * carries |days| fixed-size blobs regardless of user count. */
  def dauWau(spark: SparkSession, dir: String): DataFrame = {
    val daySec = 86400L
    // the corpus-sized distinct runs ONCE: without the materialization the
    // DAU and WAU branches each re-scan the fact table and re-shuffle the
    // (day, user) distinct (the join's day filter breaks exchange reuse —
    // measured as 2 FileSourceScans in the physical plan, r13); both heads
    // now derive from the one reduced relation (PLANS.md "scanned once")
    val ud = graft.Storage.materializeOnce(
      Tables.events(spark, dir)
        .select((expr("unix_timestamp(ts) div 86400") * daySec).as("day"), col("user_id"))
        .distinct())
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"),
        explode(sequence(col("day"), col("day") + 6 * daySec, lit(daySec))).as("day"))
      .groupBy("day").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness", round(col("dau").cast("double") / col("wau"), 6))
      .orderBy("day")
  }

  /** THETA-SKETCH DAU/WAU — the fact-scale form of [[dauWau]] (r14
    * verdict #1): the corpus reduces ONCE to a |days|-row relation of
    * per-day theta sketches of the user set (the corpus-sized exchange
    * carries partial sketch blobs, merged map-side — never a (day, user)
    * distinct relation); DAU finalizes each daily sketch, and the
    * trailing-7-day WAU is the UNION of 7 daily sketches — theta union
    * is associative and loss-free over exact-regime sketches, so the ×7
    * fan-out amplifies |days| ≤64 KB blobs instead of the distinct
    * relation, and the per-day `countDistinct` Expand disappears
    * entirely. At 10⁹ users the plan's exchanges still carry
    * O(days × 64 KB).
    *
    * Exact regime ([[graft.functions.ThetaSketchEstimate]] contract):
    * below 2^lgK distinct users every estimate — including the 7-day
    * unions — is an exact integer, and `strict = true` (the oracle
    * registration) THROWS rather than face the exact oracle in
    * estimation mode; the twin then shares [[dauWau]]'s oracle verbatim.
    * Beyond it (strict = false, the 10⁹-user posture) estimates carry
    * the published theta error bounds. */
  def dauWauSketch(spark: SparkSession, dir: String, lgK: Int = 12,
      strict: Boolean = false): DataFrame = {
    import graft.functions.ThetaSketch
    val daySec = 86400L
    val daily = Tables.events(spark, dir)
      .select((expr("unix_timestamp(ts) div 86400") * daySec).as("day"), col("user_id"))
      .groupBy("day")
      .agg(ThetaSketch.thetaSketch(col("user_id"), lgK).as("sk"))
    val dau = daily.select(col("day"),
      ThetaSketch.thetaEstimate(col("sk"), strict).as("dau"))
    val wau = daily
      .select(col("sk"),
        explode(sequence(col("day"), col("day") + 6 * daySec, lit(daySec))).as("day"))
      .groupBy("day")
      .agg(ThetaSketch.thetaFold(col("sk"), lgK).as("wsk"))
      .select(col("day"), ThetaSketch.thetaEstimate(col("wsk"), strict).as("wau"))
    dau.join(wau, "day")
      .withColumn("stickiness", round(col("dau").cast("double") / col("wau"), 6))
      .orderBy("day")
  }

  /** Next-event TRANSITION MATRIX (the Markov-chain view of user
    * journeys): for each user's time-ordered stream, count
    * (event_type → next event_type) pairs and the distinct users making
    * each transition. The lead window runs per user (bounded by that
    * user's event count — the natural partitioning at any scale);
    * deterministic tie-break on (ts, event_id) so equal-timestamp events
    * order identically on both engines. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("to_type", lead("event_type", 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n_transitions"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("from_type", "to_type")
  }

  /** LAST-TOUCH ATTRIBUTION: each purchase credited to the most recent
    * preceding non-purchase event of the same user — the marketing
    * analytics primitive behind "which interaction closed the sale".
    * One running window per user (`last(..., ignoreNulls)` over the
    * strictly-preceding frame, deterministic (ts, event_id) order)
    * followed by one small aggregate; purchases with no prior touch
    * land in the 'none' bucket. Purchase value is summed in integer
    * micros ([[valueStats]]' discipline) so the attribution revenue is
    * order-independent. Scale shape: the window partitions by user —
    * state per task is one string, the exchange is the same
    * user-keyed shuffle every journey query already pays. */
  def lastTouch(spark: SparkSession, dir: String): DataFrame = {
    val before = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"),
        floor(col("value") * 1000000).cast("long").as("v"))
      .withColumn("touch", last(
        when(col("event_type") =!= "purchase", col("event_type")),
        ignoreNulls = true).over(before))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("touch"), lit("none")).as("last_touch"))
      .agg(count(lit(1)).as("n_conversions"), sum("v").as("sum_value_micros"))
      .orderBy("last_touch")
  }

  /** Exact NTILE(`n`) over a TOTAL order without a single-partition sort
    * (r18 verdict #3): range-repartition on the order key (parallel sort,
    * the orderBy machinery minus the one-task WindowExec), derive each
    * row's GLOBAL rank as partition-offset + local position — both read
    * off `monotonically_increasing_id()` (pid << 33 | contiguous local
    * counter), with per-partition counts folded into a broadcastable
    * P-row offsets relation — then map rank → bucket with NTILE's exact
    * allocation rule (first N mod n buckets get ⌈N/n⌉ rows, the rest
    * ⌊N/n⌋). Equivalence to `ntile(n).over(Window.orderBy(order))` needs
    * the order to be TOTAL (callers tie-break on user_id), which makes
    * rank well-defined; a spec pins the twin bit-for-bit.
    *
    * Determinism under one execution: the two consumers of the range
    * exchange (offset aggregate, main join) share ONE reused shuffle
    * stage — REPARTITION_BY_NUM origin, so AQE never re-coalesces it —
    * and the local counter is taken above a `sortWithinPartitions` on
    * the same total order, so both evaluations see identical (pid, pos)
    * assignments. `extraGlobal` lets a caller fold additional global
    * aggregates (e.g. the RFM anchor day) into the same P-row relation
    * instead of paying a separate single-partition window. */
  private def withGlobalNtile(df: DataFrame, n: Int, order: Seq[Column],
      scoreCol: String, extraGlobal: Seq[(String, String => Column)] = Nil): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    val sorted = df.repartitionByRange(p, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__p", shiftright(col("__mid"), 33))
    val byP = Window.orderBy("__p")
    val all = Window.partitionBy()
    // P rows: per-partition counts -> running offsets + the global total
    // (the only unpartitioned windows left run over this P-row relation)
    val aggCols = count(lit(1)).as("__c") +:
      extraGlobal.map { case (src, agg) => agg(src).as(s"__g_$src") }
    val offs = sorted.groupBy("__p")
      .agg(aggCols.head, aggCols.tail: _*)
      .select((Seq(col("__p"),
        coalesce(sum("__c").over(byP.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as("__off"),
        sum("__c").over(all).as("__N")) ++
        extraGlobal.map { case (src, _) =>
          max(col(s"__g_$src")).over(all).as(s"__g_$src") }): _*)
    val ranked = sorted.join(broadcast(offs), Seq("__p"))
      .withColumn("__rank",
        col("__off") + col("__mid").bitwiseAND(lit((1L << 33) - 1)) + 1L)
    // NTILE's allocation: q = N div n, r = N mod n; the first r buckets
    // hold q+1 rows, the rest q. CaseWhen short-circuits per row, so the
    // q-division is never evaluated when q = 0 (N < n puts every rank in
    // branch 1: t = N·1, all ranks <= t, score = rank).
    val scored = ranked.withColumn(scoreCol,
      when(col("__rank") <= expr(s"(__N % $n) * (__N div $n + 1)"),
        expr(s"(__rank - 1) div (__N div $n + 1) + 1"))
        .otherwise(expr(s"__N % $n + " +
          s"(__rank - (__N % $n) * (__N div $n + 1) - 1) div (__N div $n) + 1"))
        .cast("int"))
    val extraCols = extraGlobal.map { case (src, _) =>
      col(s"__g_$src").as(s"g_$src") }
    scored.select((df.columns.map(col).toSeq ++ extraCols :+ col(scoreCol)): _*)
  }

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM / growth-analytics operator: per purchasing user, days
    * since last purchase (anchored at the corpus's last purchase day, so
    * the result is data-derived and deterministic), purchase count, and
    * integer-micro revenue; each dimension scored into quintiles
    * (1 = best: most recent / most frequent / highest spend) and the
    * 5×5×5 segments summarized. Tie-breaks include user_id so NTILE
    * assignment is a total order on both engines.
    *
    * Scale posture (r18 verdict #3): exact quantile scoring is a global
    * rank by definition, but a global rank does NOT need a global
    * single-task sort — each dimension is scored by
    * [[withGlobalNtile]]'s range-partitioned rank (parallel sort, exact
    * NTILE allocation arithmetic), so the per-user relation (one
    * corpus-sized hash aggregate reduces events to it) never funnels
    * through one task. The anchor day folds into the first pass's P-row
    * offsets relation rather than its own unpartitioned window. For
    * rank-error-tolerant fact-scale use there is still [[rfmSketch]]
    * (`events_rfm_sketch`): cut points from the mergeable KLL sketch,
    * zero sorting of any kind. */
  def rfm(spark: SparkSession, dir: String, n: Int = 5,
      rankThreshold: Long = 4000000L): DataFrame = {
    // the per-user relation is pinned once (dimension-sized: 4 longs per
    // purchasing user): every rank pass below references it repeatedly —
    // without the pin the fact table re-scans per reference (the
    // branch-specific column pruning defeats exchange reuse, the
    // customerQuartiles/dauWau lesson). At user counts where even the
    // pinned dimension is heavy, the posture is [[rfmSketch]].
    val p = graft.Storage.materializeOnce(Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        max(expr("unix_timestamp(ts) div 86400")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(floor(col("value") * 1000000).cast("long")).as("monetary_micros")))
    // ADAPTIVE rank strategy (r19, measured both ways): the exact global
    // rank is either three chained NTILE windows over ONE single-partition
    // pass of the pinned dimension — optimal while the dimension is small
    // (a 500 k-user sort is ~1 s on one core; the bench r19 A/B put the
    // range form at +1.4 s registry / +3.7 s at the 50 M tier from its
    // ~15 extra jobs) — or, past `rankThreshold` users, three
    // [[withGlobalNtile]] range-partitioned rank passes, whose parallel
    // sorts remove the single-task funnel that dominates at 10⁷⁺ users
    // (the r18 verdict-#3 regime). Both paths produce identical output
    // (EventOpsSpec pins them bit-for-bit plus a driver-side NTILE
    // replay); the count job reads the pinned blocks, not the fact table.
    val scored =
      if (p.count() < rankThreshold) {
        p
          .withColumn("anchor_day", max("last_day").over(Window.partitionBy()))
          .withColumn("recency_days", col("anchor_day") - col("last_day"))
          .withColumn("r_score",
            ntile(n).over(Window.orderBy(col("recency_days").asc, col("user_id").asc)))
          .withColumn("f_score",
            ntile(n).over(Window.orderBy(col("frequency").desc, col("user_id").asc)))
          .withColumn("m_score",
            ntile(n).over(Window.orderBy(col("monetary_micros").desc, col("user_id").asc)))
      } else {
        // NTILE(recency asc) == NTILE(last_day desc): recency = anchor -
        // last_day with anchor a constant, so the recency pass needs no
        // anchor beforehand — the anchor (corpus's last purchase day)
        // folds into the SAME pass's P-row offsets relation (extraGlobal)
        // instead of paying its own unpartitioned window max
        val r1 = withGlobalNtile(p, n,
          Seq(col("last_day").desc, col("user_id").asc), "r_score",
          Seq("last_day" -> ((s: String) => max(col(s)))))
          .withColumn("recency_days", col("g_last_day") - col("last_day"))
          .drop("g_last_day")
        val r2 = withGlobalNtile(r1, n,
          Seq(col("frequency").desc, col("user_id").asc), "f_score")
        withGlobalNtile(r2, n,
          Seq(col("monetary_micros").desc, col("user_id").asc), "m_score")
      }
    scored
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        sum("monetary_micros").as("sum_monetary_micros"),
        min("recency_days").as("min_recency_days"),
        max("recency_days").as("max_recency_days"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** SKETCH-CUT-POINT RFM — the fact-scale form of [[rfm]] (r13 verdict
    * ask): instead of three unpartitioned NTILE sorts, the quintile cut
    * points come from the mergeable KLL sketch
    * ([[graft.functions.QuantileSketch]], k=200 → ≤3.3% normalized rank
    * error) and every user buckets by COMPARING against the broadcast
    * cut values — 3×(n-1) doubles plus the anchor day cross the driver,
    * nothing is globally sorted, and the per-user relation folds
    * map-side like any hash aggregate. Works unchanged at 10⁹ users.
    *
    * NTILE-equivalence device: each dimension sketches the TIE-BROKEN
    * composite `value + (user_id % 2²⁰)/2²⁰` — a fractional tie-break
    * that makes the value order coincide with NTILE's total order
    * (value, user_id), so heavy ties (frequency is a small int; most
    * users tie) split across buckets by rank exactly as NTILE splits
    * them, and bucket COUNTS stay within the sketch's rank error of the
    * exact form (EventOpsSpec pins the tolerance). The fraction is
    * exactly representable next to day/frequency-sized values; for
    * monetary (≫2³³ micros possible) it may collapse on the last ulp,
    * which only re-merges a tie the rank-error bound already covers.
    * Recency scoring needs no second pass: NTILE(recency asc) =
    * NTILE(last_day desc), so the last_day sketch's quantiles serve
    * reversed. Scores are value-bucket picks, not rank picks, so at
    * k=200 the result is rank-error-approximate.
    *
    * Oracle form (`strict = true`, k ≥ purchase-user count at driver
    * scale): exact-regime cut points are the ⌈p·n⌉-th order statistics
    * of the tie-broken composites (`quantile_disc` in DuckDB), which
    * makes the whole bucketing deterministic and hash-checkable — the
    * cut-point DEFINITION (value-bucket, ⌈p·n⌉ cuts) is what the oracle
    * replays, not the NTILE allocation (which splits N mod n leftovers
    * differently by construction). The [[graft.functions.QuantileSketchMerge]]
    * strict guard throws if user growth ever leaves the exact regime. */
  def rfmSketch(spark: SparkSession, dir: String, n: Int = 5,
      k: Int = 200, strict: Boolean = false): DataFrame = {
    import graft.functions.QuantileSketch
    val p = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(
        max(expr("unix_timestamp(ts) div 86400")).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(floor(col("value") * 1000000).cast("long")).as("monetary_micros"))
    def tb(c: Column): Column =
      c.cast("double") + (col("user_id") % 1048576).cast("double") / 1048576.0
    val pt = p.select(col("user_id"), col("last_day"), col("frequency"),
      col("monetary_micros"), tb(col("last_day")).as("tb_r"),
      tb(col("frequency")).as("tb_f"), tb(col("monetary_micros")).as("tb_m"))
    val probs = (1 until n).map(i => i.toDouble / n)
    val blobs = pt.agg(
      max("last_day").as("anchor_day"),
      QuantileSketch.quantileSketch(col("tb_r"), k).as("s_r"),
      QuantileSketch.quantileSketch(col("tb_f"), k).as("s_f"),
      QuantileSketch.quantileSketch(col("tb_m"), k).as("s_m"))
    val cuts = blobs.agg(
      max("anchor_day").as("anchor_day"),
      QuantileSketch.quantileMerge(col("s_r"), k, probs, strict).as("q_r"),
      QuantileSketch.quantileMerge(col("s_f"), k, probs, strict).as("q_f"),
      QuantileSketch.quantileMerge(col("s_m"), k, probs, strict).as("q_m"))
    // score 1 = best (most recent / most frequent / highest spend):
    // users ABOVE every cut score 1, below every cut score n — the
    // reversed-quantile reading makes recency work off last_day directly
    def score(tbc: String, qc: String): Column =
      (lit(1) + (1 until n).map(i =>
        when(col(tbc) < element_at(col(qc), i), 1).otherwise(0))
        .reduce(_ + _)).cast("int")
    pt.crossJoin(broadcast(cuts))
      .withColumn("r_score", score("tb_r", "q_r"))
      .withColumn("f_score", score("tb_f", "q_f"))
      .withColumn("m_score", score("tb_m", "q_m"))
      .withColumn("recency_days", col("anchor_day") - col("last_day"))
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_users"),
        sum("monetary_micros").as("sum_monetary_micros"),
        min("recency_days").as("min_recency_days"),
        max("recency_days").as("max_recency_days"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** COHORT LTV curves — the revenue-retention view growth analytics
    * reads next to [[retention]]'s activity view: users grouped by
    * signup week (epoch-week of their FIRST signup event), each cohort's
    * purchase revenue laid out by whole weeks since that signup, with
    * the running cumulative — the curve whose asymptote is the cohort's
    * lifetime value. Pre-signup purchases are excluded (the cohort
    * clock starts at signup; a negative offset has no cohort meaning).
    * Revenue in integer micros, cumulative as an exact integer running
    * window — nothing floats.
    *
    * Scale shape: two filtered hash aggregates (signup day per user;
    * purchases projected to (user, day, micros)), one shuffle join on
    * user_id (both sides user-keyed; AQE broadcasts the signup side if a
    * filter makes it small), then the cumulative window runs PARTITIONED
    * BY cohort over the (cohort, week)-grain relation — hundreds of
    * rows, never the event stream. */
  def cohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(expr("unix_timestamp(ts) div 86400")).as("d0"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), expr("unix_timestamp(ts) div 86400").as("day"),
        floor(col("value") * 1000000).cast("long").as("v"))
    val weekly = purchases.join(signup, "user_id")
      .filter(col("day") >= col("d0"))
      .select(expr("d0 div 7").as("cohort_week"),
        expr("(day - d0) div 7").as("week_offset"),
        col("user_id"), col("v"))
      .groupBy("cohort_week", "week_offset")
      .agg(count_distinct(col("user_id")).as("n_buyers"),
        sum("v").as("revenue_micros"))
    weekly
      .withColumn("cum_revenue_micros",
        sum("revenue_micros").over(
          Window.partitionBy("cohort_week").orderBy("week_offset")))
      .orderBy("cohort_week", "week_offset")
  }

  /** Two-variant EXPERIMENT READOUT (A/B test) — the conversion-rate
    * comparison with its two-proportion z statistic. The variant split
    * is `user_id % 2`: deterministic, engine-identical, and exactly the
    * hash-bucket assignment an experimentation system would persist.
    * Conversion = the user has ≥1 HIGH-VALUE purchase (`value ≥
    * minValue`, default 150) — thresholded because on this generator
    * every user purchases eventually, and a metric everyone converts on
    * (p̄ = 1) reads out as all-degenerate.
    *
    * Oracle-exact float discipline: counts are exact integers; the two
    * rates are ONE rounded division each; the z statistic is ONE fixed
    * expression tree `(p₁−p₂)/√(p̄(1−p̄)(1/n₁+1/n₂))` of correctly-rounded
    * IEEE ops over those integers (sqrt and ÷ are correctly rounded on
    * both engines — the [[graft.flow.FlowQueries.anomalyZscore]]
    * precedent), rounded to 6 places; the significance flag compares the
    * UNROUNDED z² against 1.96² inside the same tree, so both engines
    * flag identically.
    *
    * Scale shape: one per-user hash aggregate (map-combined) over a
    * projected (user_id, is-purchase) stream, then a single global fold
    * to ONE row — conditional sums, no join, no window. */
  def abTest(spark: SparkSession, dir: String, minValue: Double = 150.0): DataFrame = {
    val per = Tables.events(spark, dir)
      .select(col("user_id"),
        when(col("event_type") === "purchase" && col("value") >= minValue, 1L)
          .otherwise(0L).as("p"))
      .groupBy("user_id")
      .agg(max("p").as("converted"))
      .select((col("user_id") % 2).as("variant"), col("converted"))
    val g = per.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === 0, col("converted")).otherwise(0L)).as("conv_a"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === 1, col("converted")).otherwise(0L)).as("conv_b"))
    val p1 = col("conv_a").cast("double") / col("n_a").cast("double")
    val p2 = col("conv_b").cast("double") / col("n_b").cast("double")
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    val zRaw = (p1 - p2) / se
    val degenerate = col("n_a") === 0 || col("n_b") === 0 ||
      col("conv_a") + col("conv_b") === 0 ||
      col("conv_a") + col("conv_b") === col("n_a") + col("n_b")
    g.select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
      round(p1, 6).as("rate_a"), round(p2, 6).as("rate_b"),
      when(degenerate, lit(0.0)).otherwise(round(zRaw, 6)).as("z"),
      // the flag must live INSIDE a conditional: a bare `!degenerate &&
      // zRaw² ≥ …` still evaluates zRaw's division, and under ANSI mode a
      // degenerate group (se = 0) then throws DIVIDE_BY_ZERO
      when(degenerate, lit(false))
        .otherwise(zRaw * zRaw >= lit(3.8416)).as("significant"))
  }

  /** Time-to-convert: first signup → first purchase AT-OR-AFTER that
    * signup, per user, distribution summarized in whole seconds
    * (integer sums; one final rounded division for the mean). Two hash
    * aggregates keyed user_id around one equi-join of already-reduced
    * relations — the event stream itself is never joined. */
  def timeToConvert(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val sg = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t_signup"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(sg, "user_id")
      .filter(col("ts") >= col("t_signup"))
      .groupBy("user_id")
      .agg((expr("unix_timestamp(min(ts))") - expr("unix_timestamp(first(t_signup))"))
        .as("delta_sec"))
    conv.agg(
      count(lit(1)).as("n_converted"),
      min("delta_sec").as("min_sec"),
      max("delta_sec").as("max_sec"),
      sum("delta_sec").as("sum_sec"),
      round(sum("delta_sec").cast("double") / count(lit(1)), 6).as("avg_sec"))
  }

  /** 30-minute-gap sessionization over the event stream — the events twin
    * of `flow_sessions` (same lag → new-session flag → running-sum id
    * composition), with per-session event/type counts. Both windows and
    * the final aggregate share the user_id partitioning, so the plan is
    * one exchange + two window passes + one partial-combined aggregate. */
  def gapSessions(spark: SparkSession, dir: String, gapSec: Long = SessionGapSec): DataFrame = {
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("unix_timestamp(ts)").as("secs"))
      .withColumn("prev_secs", lag("secs", 1).over(
        Window.partitionBy("user_id").orderBy(col("secs"), col("event_id"))))
      .withColumn("ns",
        when(col("prev_secs").isNull || col("secs") > col("prev_secs") + gapSec, 1)
          .otherwise(0))
      .withColumn("session_seq", sum("ns").over(
        Window.partitionBy("user_id").orderBy(col("secs"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_seq")
      .agg(min("secs").as("session_start"), max("secs").as("session_end"),
        (max("secs") - min("secs")).as("duration_sec"),
        count(lit(1)).as("n_events"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("user_id", "session_seq")
  }

  /** Typed numeric aggregates over the DOUBLE `value` column, made
    * oracle-exact the RelQueries-cents way: each row's value floors to
    * integer MICROS first (one double multiply + floor — bit-identical
    * per row on both engines), then every aggregate is an integer sum /
    * min / max, order-independent by construction; the mean is ONE final
    * rounded division. */
  def valueStats(spark: SparkSession, dir: String): DataFrame = {
    val micros = floor(col("value") * 1000000).cast("long")
    Tables.events(spark, dir)
      .select(col("event_type"), micros.as("v"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum("v").as("sum_micros"),
        min("v").as("min_micros"),
        max("v").as("max_micros"),
        round(sum("v").cast("double") / count(lit(1)), 6).as("avg_micros"))
      .orderBy("event_type")
  }

  /** USER-ACTIVITY POWER-LAW HISTOGRAM: events-per-user folded into
    * power-of-two buckets (bucket = bit length of the count, via
    * `length(bin(n))` — no log2/libm, same device as
    * `flow_ip_degree_dist`). The population summary behind engagement
    * segmentation and bot thresholds: a healthy product shows a smooth
    * heavy tail; a spike in a high bucket is scripted traffic. Scale
    * shape: per-user counts are one map-combined aggregate; the histogram
    * is a second aggregate over the per-user relation — ≤ 64 output rows
    * at any corpus size. */
  def userActivityDist(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"))
      .groupBy(length(bin(col("n_events"))).cast("int").as("n_bits"))
      .agg(count(lit(1)).as("n_users"),
        min("n_events").as("min_events"),
        max("n_events").as("max_events"),
        sum("n_events").as("sum_events"))
      .orderBy("n_bits")

  /** NEW vs RETURNING users per day — the growth-accounting panel (is
    * today's activity acquisition or retention?). The corpus-sized
    * (day, user) distinct materializes ONCE (same lineage-cut rationale
    * as [[dauWau]]: the first-seen derivation would otherwise re-scan
    * the fact table); first-seen day is a min aggregate over that
    * reduced relation, joined back on user_id, and the day rollup is
    * one conditional aggregate. */
  def newVsReturning(spark: SparkSession, dir: String): DataFrame = {
    val daySec = 86400L
    val ud = graft.Storage.materializeOnce(
      Tables.events(spark, dir)
        .select((expr("unix_timestamp(ts) div 86400") * daySec).as("day"), col("user_id"))
        .distinct())
    val firstSeen = ud.groupBy(col("user_id").as("u"))
      .agg(min("day").as("first_day"))
    ud.join(firstSeen, col("user_id") === col("u"))
      .groupBy("day")
      .agg(sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("new_users"),
        sum(when(col("day") === col("first_day"), 0L).otherwise(1L)).as("returning_users"))
      .orderBy("day")
  }

  val queries: Map[String, Q] = Map(
    "events_new_vs_returning" -> (newVsReturning _),
    "events_user_activity_dist" -> (userActivityDist _),
    "events_value_stats" -> (valueStats _),
    "events_transitions" -> (transitions _),
    "events_attribution" -> (lastTouch _),
    "events_rfm" -> ((s: SparkSession, d: String) => rfm(s, d)),
    // strict exact regime (r14 verdict #3): k ≥ purchase users at sf0.1
    // (1.5 k) with 10× headroom; throws rather than face the oracle
    // approximate. Production calls keep k=200/strict=false.
    "events_rfm_sketch" -> ((s: SparkSession, d: String) =>
      rfmSketch(s, d, k = 16384, strict = true)),
    "events_cohort_ltv" -> (cohortLtv _),
    "events_ab_test" -> ((s: SparkSession, d: String) => abTest(s, d)),
    "events_time_to_convert" -> (timeToConvert _),
    "events_gap_sessions" -> ((s: SparkSession, d: String) => gapSessions(s, d)),
    "events_dau_wau" -> (dauWau _),
    // strict exact regime: 2^12 = 4096 > user count at sf0.1 (1.5 k);
    // shares the exact form's oracle verbatim. Fact-scale calls pass
    // strict=false (theta error bounds apply beyond 4096 users).
    "events_dau_wau_sketch" -> ((s: SparkSession, d: String) =>
      dauWauSketch(s, d, strict = true)),
    "events_type_pivot" -> (typePivot _),
    "events_retention" -> (retention _),
    "events_funnel" -> (funnel _),
    "events_props_stats" -> (propsStats _))

  val oracles: Map[String, String] = Map(
    "events_new_vs_returning" ->
      """WITH ud AS (SELECT DISTINCT
        |   (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day, user_id FROM events),
        | fs AS (SELECT user_id, min(day) AS first_day FROM ud GROUP BY 1)
        |SELECT day,
        |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
        |  CAST(sum(CASE WHEN day = first_day THEN 0 ELSE 1 END) AS BIGINT) AS returning_users
        |FROM ud JOIN fs USING (user_id)
        |GROUP BY day ORDER BY day""".stripMargin.replace('\n', ' '),
    "events_user_activity_dist" ->
      """WITH u AS (SELECT user_id, count(*) AS n_events FROM events GROUP BY 1)
        |SELECT CAST(length(bin(n_events)) AS INT) AS n_bits, count(*) AS n_users,
        |  CAST(min(n_events) AS BIGINT) AS min_events,
        |  CAST(max(n_events) AS BIGINT) AS max_events,
        |  CAST(sum(n_events) AS BIGINT) AS sum_events
        |FROM u GROUP BY 1 ORDER BY 1""".stripMargin.replace('\n', ' '),
    "events_value_stats" ->
      """WITH m AS (SELECT event_type,
        |   CAST(floor(value * 1000000) AS BIGINT) AS v FROM events)
        | SELECT event_type, count(*) AS n_events,
        |  CAST(sum(v) AS BIGINT) AS sum_micros,
        |  CAST(min(v) AS BIGINT) AS min_micros,
        |  CAST(max(v) AS BIGINT) AS max_micros,
        |  round(CAST(sum(v) AS DOUBLE) / count(*), 6) AS avg_micros
        | FROM m GROUP BY 1 ORDER BY event_type""".stripMargin.replace('\n', ' '),
    "events_attribution" ->
      """WITH t AS (SELECT user_id, event_type,
        |   CAST(floor(value * 1000000) AS BIGINT) AS v,
        |   last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
        |     OVER (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
        |  FROM events)
        | SELECT coalesce(touch, 'none') AS last_touch, count(*) AS n_conversions,
        |  CAST(sum(v) AS BIGINT) AS sum_value_micros
        | FROM t WHERE event_type = 'purchase' GROUP BY 1
        | ORDER BY last_touch""".stripMargin.replace('\n', ' '),
    "events_transitions" ->
      """WITH s AS (SELECT user_id, event_type,
        |   lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events)
        | SELECT event_type AS from_type, to_type, count(*) AS n_transitions,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        | FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2
        | ORDER BY from_type, to_type""".stripMargin.replace('\n', ' '),
    "events_rfm" ->
      """WITH p AS (SELECT user_id,
        |   max(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS last_day,
        |   count(*) AS frequency,
        |   CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS monetary_micros
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        | s AS (SELECT *, (SELECT max(last_day) FROM p) - last_day AS recency_days FROM p),
        | t AS (SELECT *,
        |   CAST(ntile(5) OVER (ORDER BY recency_days ASC, user_id ASC) AS INT) AS r_score,
        |   CAST(ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS INT) AS f_score,
        |   CAST(ntile(5) OVER (ORDER BY monetary_micros DESC, user_id ASC) AS INT) AS m_score
        |  FROM s)
        | SELECT r_score, f_score, m_score, count(*) AS n_users,
        |  CAST(sum(monetary_micros) AS BIGINT) AS sum_monetary_micros,
        |  CAST(min(recency_days) AS BIGINT) AS min_recency_days,
        |  CAST(max(recency_days) AS BIGINT) AS max_recency_days
        | FROM t GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace('\n', ' '),
    // exact-regime sketch twin: cut points are the ⌈p·n⌉ order statistics
    // of the tie-broken composites (quantile_disc); above-cut users score
    // 1, so scores count cuts strictly ABOVE the composite
    "events_rfm_sketch" ->
      """WITH p AS (SELECT user_id,
        |   max(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS last_day,
        |   count(*) AS frequency,
        |   CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) AS monetary_micros
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        | t AS (SELECT *,
        |   CAST(last_day AS DOUBLE) + CAST(user_id % 1048576 AS DOUBLE) / 1048576.0 AS tb_r,
        |   CAST(frequency AS DOUBLE) + CAST(user_id % 1048576 AS DOUBLE) / 1048576.0 AS tb_f,
        |   CAST(monetary_micros AS DOUBLE) + CAST(user_id % 1048576 AS DOUBLE) / 1048576.0 AS tb_m
        |  FROM p),
        | q AS (SELECT max(last_day) AS anchor_day,
        |   quantile_disc(tb_r, 0.2) AS qr1, quantile_disc(tb_r, 0.4) AS qr2,
        |   quantile_disc(tb_r, 0.6) AS qr3, quantile_disc(tb_r, 0.8) AS qr4,
        |   quantile_disc(tb_f, 0.2) AS qf1, quantile_disc(tb_f, 0.4) AS qf2,
        |   quantile_disc(tb_f, 0.6) AS qf3, quantile_disc(tb_f, 0.8) AS qf4,
        |   quantile_disc(tb_m, 0.2) AS qm1, quantile_disc(tb_m, 0.4) AS qm2,
        |   quantile_disc(tb_m, 0.6) AS qm3, quantile_disc(tb_m, 0.8) AS qm4
        |  FROM t)
        | SELECT
        |  CAST(1 + CAST(tb_r < qr1 AS INT) + CAST(tb_r < qr2 AS INT)
        |    + CAST(tb_r < qr3 AS INT) + CAST(tb_r < qr4 AS INT) AS INT) AS r_score,
        |  CAST(1 + CAST(tb_f < qf1 AS INT) + CAST(tb_f < qf2 AS INT)
        |    + CAST(tb_f < qf3 AS INT) + CAST(tb_f < qf4 AS INT) AS INT) AS f_score,
        |  CAST(1 + CAST(tb_m < qm1 AS INT) + CAST(tb_m < qm2 AS INT)
        |    + CAST(tb_m < qm3 AS INT) + CAST(tb_m < qm4 AS INT) AS INT) AS m_score,
        |  count(*) AS n_users,
        |  CAST(sum(monetary_micros) AS BIGINT) AS sum_monetary_micros,
        |  CAST(min(anchor_day - last_day) AS BIGINT) AS min_recency_days,
        |  CAST(max(anchor_day - last_day) AS BIGINT) AS max_recency_days
        | FROM t, q GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin.replace('\n', ' '),
    "events_cohort_ltv" ->
      """WITH sg AS (SELECT user_id,
        |   min(CAST(floor(epoch(ts)) AS BIGINT) // 86400) AS d0
        |  FROM events WHERE event_type = 'signup' GROUP BY 1),
        | p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |   CAST(floor(value * 1000000) AS BIGINT) AS v
        |  FROM events WHERE event_type = 'purchase'),
        | b AS (SELECT sg.d0 // 7 AS cohort_week, (p.day - sg.d0) // 7 AS week_offset,
        |   p.user_id, p.v
        |  FROM p JOIN sg ON p.user_id = sg.user_id WHERE p.day >= sg.d0),
        | w AS (SELECT cohort_week, week_offset,
        |   CAST(count(DISTINCT user_id) AS BIGINT) AS n_buyers,
        |   CAST(sum(v) AS BIGINT) AS revenue_micros
        |  FROM b GROUP BY 1, 2)
        | SELECT cohort_week, week_offset, n_buyers, revenue_micros,
        |  CAST(sum(revenue_micros) OVER (
        |    PARTITION BY cohort_week ORDER BY week_offset) AS BIGINT)
        |   AS cum_revenue_micros
        | FROM w ORDER BY 1, 2""".stripMargin.replace('\n', ' '),
    // the z is the IDENTICAL expression tree over exact integers on both
    // engines; the flag compares unrounded z² inside that tree
    "events_ab_test" ->
      """WITH per AS (SELECT user_id,
        |   max(CASE WHEN event_type = 'purchase' AND value >= 150
        |     THEN 1 ELSE 0 END) AS converted
        |  FROM events GROUP BY 1),
        | v AS (SELECT user_id % 2 AS variant, converted FROM per),
        | g AS (SELECT
        |   CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |   CAST(sum(CASE WHEN variant = 0 THEN converted ELSE 0 END) AS BIGINT) AS conv_a,
        |   CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |   CAST(sum(CASE WHEN variant = 1 THEN converted ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM v)
        | SELECT n_a, conv_a, n_b, conv_b,
        |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
        |    OR conv_a + conv_b = n_a + n_b THEN 0.0
        |   ELSE round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))), 6) END AS z,
        |  CASE WHEN n_a = 0 OR n_b = 0 OR conv_a + conv_b = 0
        |    OR conv_a + conv_b = n_a + n_b THEN FALSE
        |   ELSE ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))
        |   * ((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |     - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |    / sqrt((CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
        |      * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))))
        |   >= 3.8416 END AS significant
        | FROM g""".stripMargin.replace('\n', ' '),
    "events_time_to_convert" ->
      """WITH sg AS (SELECT user_id, min(ts) AS t_signup FROM events
        |   WHERE event_type = 'signup' GROUP BY 1),
        | conv AS (SELECT e.user_id,
        |   CAST(floor(epoch(min(e.ts))) AS BIGINT)
        |     - CAST(floor(epoch(min(sg.t_signup))) AS BIGINT) AS delta_sec
        |  FROM events e JOIN sg ON sg.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts >= sg.t_signup GROUP BY 1)
        | SELECT count(*) AS n_converted,
        |  CAST(min(delta_sec) AS BIGINT) AS min_sec,
        |  CAST(max(delta_sec) AS BIGINT) AS max_sec,
        |  CAST(sum(delta_sec) AS BIGINT) AS sum_sec,
        |  round(CAST(sum(delta_sec) AS DOUBLE) / count(*), 6) AS avg_sec
        | FROM conv""".stripMargin.replace('\n', ' '),
    "events_gap_sessions" ->
      s"""WITH b AS (SELECT user_id, event_id, event_type,
        |   CAST(floor(epoch(ts)) AS BIGINT) AS secs FROM events),
        | l AS (SELECT *, lag(secs) OVER
        |   (PARTITION BY user_id ORDER BY secs, event_id) AS prev_secs FROM b),
        | m AS (SELECT *, CASE WHEN prev_secs IS NULL OR secs > prev_secs + $SessionGapSec
        |   THEN 1 ELSE 0 END AS ns FROM l),
        | s AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY secs, event_id
        |   ROWS UNBOUNDED PRECEDING) AS session_seq FROM m)
        | SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        |  min(secs) AS session_start, max(secs) AS session_end,
        |  max(secs) - min(secs) AS duration_sec, count(*) AS n_events,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
        | FROM s GROUP BY user_id, session_seq
        | ORDER BY user_id, session_seq""".stripMargin.replace('\n', ' '),
    "events_dau_wau" ->
      """WITH ud AS (SELECT DISTINCT
        |   (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day, user_id FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        | w AS (SELECT user_id, unnest(generate_series(day, day + 518400, 86400)) AS day FROM ud),
        | wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM w GROUP BY day)
        | SELECT d.day, d.dau, w2.wau,
        |  round(CAST(d.dau AS DOUBLE) / w2.wau, 6) AS stickiness
        | FROM dau d JOIN wau w2 ON d.day = w2.day ORDER BY d.day""".stripMargin.replace('\n', ' '),
    // the sketch twin shares the exact form's oracle VERBATIM: in the
    // strict exact regime every theta estimate is the exact integer
    "events_dau_wau_sketch" ->
      """WITH ud AS (SELECT DISTINCT
        |   (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS day, user_id FROM events),
        | dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        | w AS (SELECT user_id, unnest(generate_series(day, day + 518400, 86400)) AS day FROM ud),
        | wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM w GROUP BY day)
        | SELECT d.day, d.dau, w2.wau,
        |  round(CAST(d.dau AS DOUBLE) / w2.wau, 6) AS stickiness
        | FROM dau d JOIN wau w2 ON d.day = w2.day ORDER BY d.day""".stripMargin.replace('\n', ' '),
    "events_type_pivot" ->
      s"""SELECT (CAST(floor(epoch(ts)) AS BIGINT) // $WeekSec) * $WeekSec AS week,
         | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
         | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
         | FROM events GROUP BY 1 ORDER BY week""".stripMargin.replace('\n', ' '),
    "events_retention" ->
      s"""WITH uw AS (SELECT DISTINCT
         |   (CAST(floor(epoch(ts)) AS BIGINT) // $WeekSec) * $WeekSec AS week, user_id
         |  FROM events),
         | f AS (SELECT week, user_id,
         |   lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
         |   min(week) OVER (PARTITION BY user_id) AS first_week FROM uw)
         | SELECT week, count(*) AS active_users,
         |  CAST(sum(CASE WHEN prev_week = week - $WeekSec THEN 1 ELSE 0 END) AS BIGINT) AS retained_users,
         |  CAST(sum(CASE WHEN first_week = week THEN 1 ELSE 0 END) AS BIGINT) AS new_users
         | FROM f GROUP BY week ORDER BY week""".stripMargin.replace('\n', ' '),
    "events_funnel" ->
      """WITH m AS (SELECT user_id,
        |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
        |  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
        |  min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
        |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
        | FROM events GROUP BY user_id)
        | SELECT
        |  CAST(sum(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS view_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view THEN 1 ELSE 0 END) AS BIGINT) AS click_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view AND t_signup >= t_click THEN 1 ELSE 0 END) AS BIGINT) AS signup_users,
        |  CAST(sum(CASE WHEN t_view IS NOT NULL AND t_click >= t_view AND t_signup >= t_click AND t_purchase >= t_signup THEN 1 ELSE 0 END) AS BIGINT) AS purchase_users
        | FROM m""".stripMargin.replace('\n', ' '),
    "events_props_stats" ->
      """SELECT event_type, count(*) AS n_events,
        | count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
        | CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
        | CAST(min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min,
        | CAST(max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max
        | FROM events GROUP BY event_type ORDER BY event_type""".stripMargin.replace('\n', ' '))
}
