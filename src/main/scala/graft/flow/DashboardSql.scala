package graft.flow

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The SQL-TEXT query surface — what a dashboard client actually issues.
  *
  * The reference's user interface IS SQL strings: Grafana posts raw
  * ClickHouse SQL against `flows_raw`/`flows_5m`
  * (`/root/reference/compose/grafana/dashboards/viz-ch.json:74,233,358,
  * 479,604`, `viz.json:62,206`). Every session built by
  * [[graft.GraftSession]] resolves the codec function family in SQL
  * ([[graft.GraftFunctions.sqlFunctions]]); this object adds the missing
  * half — named views plus the panel queries as
  * SQL strings a porting user can issue near-verbatim through
  * `spark.sql`, with only dialect renames (`IPv4NumToString` →
  * `ip4_ntoa`, `toStartOfMinute` → epoch arithmetic).
  *
  * Column aliases match the DataFrame library queries exactly, so each
  * string is hash-comparable against its [[FlowQueries]] counterpart —
  * DashboardSqlSpec asserts the equivalence, and the DataFrame forms are
  * the oracle-checked registry entries; the SQL surface inherits their
  * correctness transitively.
  *
  * Scale: the views are plain projections over the parquet relations, so
  * Catalyst treats SQL text and DataFrame forms identically — same
  * pushdown, same partial+final aggregates, same TakeOrderedAndProject
  * top-N. There is no second query path to keep fast.
  */
object DashboardSql {

  /** Register `flows_raw` and `flows_5m` temp views over `dir`; afterwards
    * every string in [[panels]] runs through `spark.sql`. `flows_5m` is the
    * merged rollup view (read-time re-merge semantics, like querying the
    * SummingMergeTree table). */
  def register(spark: SparkSession, dir: String): Unit = {
    FlowAdapter.flows(spark, dir).createOrReplaceTempView("flows_raw")
    FlowQueries.rollup5m(spark, dir).createOrReplaceTempView("flows_5m")
  }

  /** The dashboard panels as SQL TEMPLATES. Every string carries a
    * `$timeFilter` placeholder exactly where the reference dashboards put
    * theirs (every Grafana panel is time-bounded: `$timeFilter` in
    * `viz-ch.json:74,233,358,479,604`, `$__timeFilter` in
    * `viz.json:62,206`); [[render]] binds a concrete `(from, until)` range
    * or a tautology for the all-time form. */
  val panels: Map[String, String] = Map(
    // viz.json:62 — "Instant traffic", 30-second buckets in bits/sec
    "instant_traffic_30s" ->
      """SELECT CAST(time_received / 30 AS BIGINT) * 30 AS bucket,
        |       sum(bytes * sampling_rate) * 8 AS sum_bits,
        |       (sum(bytes * sampling_rate) * 8) / 30.0D AS rate_bps
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // the $__interval-parameterized form of the instant-traffic panel:
    // the reference pins 30 s / 1 m per panel (viz.json:62,
    // viz-ch.json:74) but Grafana in practice re-binds $__interval to
    // the zoom level; render() substitutes the width like it binds
    // $timeFilter (r13 verdict #6)
    "instant_traffic_interval" ->
      """SELECT CAST(time_received / $__interval AS BIGINT) * $__interval AS bucket,
        |       sum(bytes * sampling_rate) * 8 AS sum_bits,
        |       (sum(bytes * sampling_rate) * 8) / CAST($__interval AS DOUBLE) AS rate_bps
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // the byte-sum panel's $__interval form (r14 verdict #8): same
    // re-binding treatment as instant_traffic_interval for the
    // viz-ch.json:74 shape
    "instant_traffic_1m_interval" ->
      """SELECT CAST(time_received / $__interval AS BIGINT) * $__interval AS bucket,
        |       sum(bytes * sampling_rate) AS sum_bytes,
        |       CAST(time_received / $__interval AS BIGINT) * $__interval * 1000 AS bucket_ms
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // viz-ch.json:74 — "Instant traffic", per-minute with Grafana ms epoch
    "instant_traffic_1m" ->
      """SELECT CAST(time_received / 60 AS BIGINT) * 60 AS bucket,
        |       sum(bytes * sampling_rate) AS sum_bytes,
        |       CAST(time_received / 60 AS BIGINT) * 60 * 1000 AS bucket_ms
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // viz-ch.json:233 — "Top source IPs" (EType-conditional rendering)
    "top_src_ip" ->
      """SELECT IF(etype = 2048, ip4_ntoa(src_ip), ip6_ntoa(ip4_to_bin16(src_ip))) AS addr,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY addr
        |ORDER BY sum_bytes DESC, addr ASC
        |LIMIT 10""".stripMargin,
    // viz-ch.json:479 — "Top destination IPs"
    "top_dst_ip" ->
      """SELECT IF(etype = 2048, ip4_ntoa(dst_ip), ip6_ntoa(ip4_to_bin16(dst_ip))) AS addr,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY addr
        |ORDER BY sum_bytes DESC, addr ASC
        |LIMIT 10""".stripMargin,
    // viz-ch.json:358 — "Top source ports"
    "top_src_port" ->
      """SELECT src_port AS port,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY port
        |ORDER BY sum_bytes DESC, port ASC
        |LIMIT 10""".stripMargin,
    // viz-ch.json:604 — "Top destination ports"
    "top_dst_port" ->
      """SELECT dst_port AS port,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw
        |WHERE $timeFilter
        |GROUP BY port
        |ORDER BY sum_bytes DESC, port ASC
        |LIMIT 10""".stripMargin,
    // the rollup read: SummingMergeTree re-merge over flows_5m
    // (README.md:164-183 query-before-OPTIMIZE semantics)
    "rollup_read" ->
      """SELECT src_as, dst_as,
        |       sum(sum_bytes) AS total_bytes,
        |       sum(sum_packets) AS total_packets,
        |       sum(flow_count) AS total_flows
        |FROM flows_5m
        |WHERE $timeFilter
        |GROUP BY src_as, dst_as
        |ORDER BY src_as, dst_as""".stripMargin)

  /** SQL text of `$timeFilter` for the raw view: the user-facing bound on
    * `time_received` PLUS the equivalent bound on the raw scan column, so
    * the SQL surface gets the same parquet row-group pruning as the
    * DataFrame path. The scan-column bound renders via
    * [[FlowAdapter.rawTsBoundSql]] — the SQL twin defined next to the
    * Column form so the two can't diverge. */
  private def rawTimeFilter(spark: SparkSession, r: TimeRange): String = {
    val rawBound =
      FlowAdapter.rawTsBoundSql(spark.table("flows_raw").schema, r.from, r.until)
    s"(time_received >= ${r.from} AND time_received < ${r.until}$rawBound)"
  }

  /** `$timeFilter` for the 5-minute rollup view: bucket-level, on the
    * `timeslot` key — what a dashboard can express against an
    * already-aggregated table (the reference binds `$timeFilter` on the
    * rollup's Date/Timeslot columns the same way). */
  private def rollupTimeFilter(r: TimeRange): String =
    s"(timeslot >= ${r.from} AND timeslot < ${r.until})"

  /** Render one panel's SQL with the time range bound in — `None` renders
    * the all-time tautology (`1 = 1`), mirroring a dashboard with the
    * range picker set to "all". `$__interval` (where a template carries
    * it) binds the bucket width in seconds, Grafana-style; panels without
    * the placeholder ignore the parameter. */
  def render(spark: SparkSession, name: String, range: Option[TimeRange] = None,
      intervalSec: Long = 30L): String = {
    require(intervalSec > 0, s"$$__interval must be positive, got $intervalSec")
    val template = panels(name)
    val filter = range match {
      case None => "1 = 1"
      case Some(r) =>
        if (template.contains("FROM flows_5m")) rollupTimeFilter(r)
        else rawTimeFilter(spark, r)
    }
    template.replace("$timeFilter", filter)
      .replace("$__interval", intervalSec.toString)
  }

  /** Run one panel by name (after [[register]]), optionally time-bounded
    * and `$__interval`-bound. */
  def run(spark: SparkSession, name: String, range: Option[TimeRange] = None,
      intervalSec: Long = 30L): DataFrame =
    spark.sql(render(spark, name, range, intervalSec))

  // ---------------------------------------------- managed-table twins (r9)

  /** Register `flows_raw_managed` / `flows_5m_managed` views over
    * MANIFEST-COMMITTED tables (the deployment posture the streams write:
    * [[graft.streaming.FlowStreams.startRawMVManaged]] /
    * `startRollupMVManaged`). The time range binds at REGISTRATION, not
    * only in the WHERE clause: the views are built from
    * `readRawManagedRange` / `readRollupManagedRange`, so a bounded range
    * skips non-overlapping files AT THE MANIFEST — zero footer reads for
    * cold history — before `$timeFilter`'s residual predicate ever runs.
    * This is how a dashboard backend binds a panel server-side: one
    * registration per query range, then plain SQL.
    *
    * The raw view maps the managed table's wire-schema columns to the
    * panel surface (`time_received`, `src_addr` 16-byte left-packed, …);
    * the v4/v6 address rendering in [[managedPanels]] is the reference
    * dashboard's exact form — `IPv4NumToString(reinterpretAsUInt32(...))`
    * on the leading 4 bytes for v4 rows, RFC 5952 text for v6
    * (viz-ch.json:233). */
  def registerManaged(spark: SparkSession, rawTable: String, rollupTable: String,
      range: Option[TimeRange] = None): Unit = {
    import org.apache.spark.sql.functions.col
    import graft.streaming.FlowStreams
    val raw = range.fold(FlowStreams.readRawManaged(spark, rawTable))(r =>
      FlowStreams.readRawManagedRange(spark, rawTable, r.from, r.until))
    raw.select(
      col("timeReceived").as("time_received"),
      col("samplingRate").as("sampling_rate"),
      col("bytes"), col("packets"), col("etype"), col("proto"),
      col("srcPort").as("src_port"), col("dstPort").as("dst_port"),
      col("srcAS").as("src_as"), col("dstAS").as("dst_as"),
      col("srcAddr").as("src_addr"), col("dstAddr").as("dst_addr"))
      .createOrReplaceTempView("flows_raw_managed")
    val roll = range.fold(FlowStreams.readRollupManaged(spark, rollupTable))(r =>
      FlowStreams.readRollupManagedRange(spark, rollupTable, r.from, r.until))
    roll.select(col("timeslot"), col("srcAS").as("src_as"), col("dstAS").as("dst_as"),
      col("sum_bytes"), col("sum_packets"), col("flow_count"))
      .createOrReplaceTempView("flows_5m_managed")
  }

  /** Panel twins over the managed views — same shapes as [[panels]], with
    * the address rendering spelled against the wire schema. `$timeFilter`
    * stays in the text (the residual predicate; the manifest-level skip
    * happened in [[registerManaged]]). */
  val managedPanels: Map[String, String] = Map(
    // $__interval twin over the managed view (see instant_traffic_interval)
    "m_instant_traffic_interval" ->
      """SELECT CAST(time_received / $__interval AS BIGINT) * $__interval AS bucket,
        |       sum(bytes * sampling_rate) * 8 AS sum_bits,
        |       (sum(bytes * sampling_rate) * 8) / CAST($__interval AS DOUBLE) AS rate_bps
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "m_instant_traffic_30s" ->
      """SELECT CAST(time_received / 30 AS BIGINT) * 30 AS bucket,
        |       sum(bytes * sampling_rate) * 8 AS sum_bits,
        |       (sum(bytes * sampling_rate) * 8) / 30.0D AS rate_bps
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // $__interval twin of the byte-sum shape over the managed view
    "m_instant_traffic_1m_interval" ->
      """SELECT CAST(time_received / $__interval AS BIGINT) * $__interval AS bucket,
        |       sum(bytes * sampling_rate) AS sum_bytes,
        |       CAST(time_received / $__interval AS BIGINT) * $__interval * 1000 AS bucket_ms
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    // viz-ch.json:74 — per-minute traffic with the Grafana ms-epoch key
    "m_instant_traffic_1m" ->
      """SELECT CAST(time_received / 60 AS BIGINT) * 60 AS bucket,
        |       sum(bytes * sampling_rate) AS sum_bytes,
        |       CAST(time_received / 60 AS BIGINT) * 60 * 1000 AS bucket_ms
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY bucket
        |ORDER BY bucket""".stripMargin,
    "m_top_src_ip" ->
      """SELECT IF(etype = 2048, ip4_ntoa(reinterpret_uint32(src_addr)), ip6_ntoa(src_addr)) AS addr,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY addr
        |ORDER BY sum_bytes DESC, addr ASC
        |LIMIT 10""".stripMargin,
    // viz-ch.json:479 — "Top destination IPs" against the wire schema
    "m_top_dst_ip" ->
      """SELECT IF(etype = 2048, ip4_ntoa(reinterpret_uint32(dst_addr)), ip6_ntoa(dst_addr)) AS addr,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY addr
        |ORDER BY sum_bytes DESC, addr ASC
        |LIMIT 10""".stripMargin,
    // viz-ch.json:358 — "Top source ports"
    "m_top_src_port" ->
      """SELECT src_port AS port,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY port
        |ORDER BY sum_bytes DESC, port ASC
        |LIMIT 10""".stripMargin,
    // viz-ch.json:604 — "Top destination ports"
    "m_top_dst_port" ->
      """SELECT dst_port AS port,
        |       count(1) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw_managed
        |WHERE $timeFilter
        |GROUP BY port
        |ORDER BY sum_bytes DESC, port ASC
        |LIMIT 10""".stripMargin,
    "m_rollup_read" ->
      """SELECT src_as, dst_as,
        |       sum(sum_bytes) AS total_bytes,
        |       sum(sum_packets) AS total_packets,
        |       sum(flow_count) AS total_flows
        |FROM flows_5m_managed
        |WHERE $timeFilter
        |GROUP BY src_as, dst_as
        |ORDER BY src_as, dst_as""".stripMargin)

  /** Render a managed panel with the residual `$timeFilter` (and
    * `$__interval`, where present) bound. */
  def renderManaged(name: String, range: Option[TimeRange] = None,
      intervalSec: Long = 30L): String = {
    require(intervalSec > 0, s"$$__interval must be positive, got $intervalSec")
    val template = managedPanels(name)
    val filter = range match {
      case None => "1 = 1"
      case Some(r) =>
        if (template.contains("FROM flows_5m_managed")) rollupTimeFilter(r)
        else s"(time_received >= ${r.from} AND time_received < ${r.until})"
    }
    template.replace("$timeFilter", filter)
      .replace("$__interval", intervalSec.toString)
  }

  /** Run one managed panel (after [[registerManaged]] with the SAME
    * range, so the manifest skip and the residual filter agree). */
  def runManaged(spark: SparkSession, name: String, range: Option[TimeRange] = None,
      intervalSec: Long = 30L): DataFrame =
    spark.sql(renderManaged(name, range, intervalSec))
}
