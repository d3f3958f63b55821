package graft

import org.apache.spark.sql.functions._
import graft.flow.{FlowAdapter, FlowQueries}

/** Structural and semantic sanity for the flow query surface at sf0.001.
  * (Value-level parity with DuckDB is the driver's oracle gate; tools/
  * oracle_check.py replicates it locally.)
  */
class FlowQueriesSpec extends SparkTestBase {

  test("flows adapter: schema, determinism, field ranges") {
    val fl = FlowAdapter.flows(spark, sf).cache()
    assert(fl.count() === 1000)
    val r = fl.agg(
      min("bytes"), max("bytes"), min("packets"), max("packets"),
      min("src_as"), max("src_as"), min("src_port"), max("src_port"),
      min("src_ip"), max("src_ip")).head()
    assert(r.getLong(0) >= 0 && r.getLong(1) < 1500)   // mocker.go:59 bound
    assert(r.getLong(2) >= 1 && r.getLong(3) <= 100)   // mocker.go:60 bound
    assert(r.getInt(4) === 65000 && r.getInt(5) === 65002) // mocker.go:61-62
    assert(r.getInt(6) >= 0 && r.getInt(7) < 65536)
    assert(r.getLong(8) >= 0 && r.getLong(9) < 4294967296L)
    fl.unpersist()
  }

  test("flows reads micros-NTZ events with or without the nanos legacy conf (r10 advisory)") {
    // the driver's current events.parquet is timestamp[us] NTZ — readable
    // regardless of the legacy nanos conf, and flows() must not require it
    val bare = spark.newSession()
    bare.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    assert(FlowAdapter.flows(bare, sf).limit(1).count() === 1)
    val legacy = spark.newSession()
    legacy.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(FlowAdapter.flows(legacy, sf).limit(1).count() === 1)
  }

  test("rawTsBound fails LOUDLY on an unsupported __raw_ts type; renderings cover NTZ (r10 advisory)") {
    import org.apache.spark.sql.types._
    val (from, until) = (FlowQueries.T0, FlowQueries.T1)
    // unsupported type (e.g. a future regeneration to StringType) must NOT
    // silently degrade to a full scan — both renderings throw
    val bad = spark.range(1).select(col("id").cast("string").as("__raw_ts"))
    val e1 = intercept[IllegalStateException](FlowAdapter.rawTsBound(bad, from, until))
    assert(e1.getMessage.contains("__raw_ts"))
    val e2 = intercept[IllegalStateException](
      FlowAdapter.rawTsBoundSql(bad.schema, from, until))
    assert(e2.getMessage.contains("__raw_ts"))
    // a relation without the scan column is the documented no-op
    val none = spark.range(1).toDF("x")
    assert(none.filter(FlowAdapter.rawTsBound(none, from, until)).count() === 1)
    assert(FlowAdapter.rawTsBoundSql(none.schema, from, until) === "")
    // NTZ schema: Column and SQL renderings select the same rows as the
    // derived seconds bound, and the SQL text carries an NTZ literal (a
    // TIMESTAMP literal would wrap the column in a cast and kill pushdown)
    val fl = FlowAdapter.flows(spark, sf)
    assert(fl.schema("__raw_ts").dataType === TimestampNTZType,
      "driver testdata expected to be micros-NTZ; if this changed, extend the renderings")
    val viaCol = fl.filter(FlowAdapter.rawTsBound(fl, from, until)).count()
    val viaDerived = fl.filter(
      col("time_received") >= from && col("time_received") < until).count()
    assert(viaCol === viaDerived)
    val sqlText = FlowAdapter.rawTsBoundSql(fl.schema, from, until)
    assert(sqlText.contains("TIMESTAMP_NTZ '2024-01-10 00:00:00'"), sqlText)
    fl.createOrReplaceTempView("ntz_bound_check")
    val viaSql = spark.sql(
      s"SELECT count(*) AS c FROM ntz_bound_check WHERE 1 = 1$sqlText").head().getLong(0)
    assert(viaSql === viaDerived)
  }

  test("ip anonymization: /24 mask folds hosts, totals reconcile with the v4 slice") {
    val fl = FlowAdapter.flows(spark, sf).filter(col("etype") === 2048).cache()
    val anon = FlowQueries.ipAnon(spark, sf).collect()
    // every retained prefix is host-octet-zeroed text
    assert(anon.forall(_.getString(0).endsWith(".0/24")))
    // nothing dropped, nothing double-counted
    assert(anon.map(_.getLong(2)).sum === fl.count())
    assert(anon.map(_.getLong(3)).sum ===
      fl.agg(sum(col("bytes") * col("sampling_rate"))).head().getLong(0))
    // prefixes PARTITION the host space: per-prefix distinct counts sum to
    // the corpus distinct count (no host in two prefixes, none dropped).
    // At this sf the hash-spread hosts land in distinct /24s, so folding
    // itself is not assertable here — the mask arithmetic is oracle-checked
    // value-for-value by the driver's flow_ip_anon compare instead.
    val hosts = fl.select("src_ip").distinct().count()
    assert(anon.map(_.getLong(1)).sum === hosts && anon.length <= hosts)
    fl.unpersist()
  }

  test("rollup 5m: totals reconcile with raw (SummingMergeTree invariant)") {
    val raw = FlowAdapter.flows(spark, sf)
    val rollup = FlowQueries.rollup5m(spark, sf)
    val rawTotals = raw.agg(sum("bytes"), sum("packets"), count(lit(1))).head()
    val rollTotals = rollup.agg(sum("sum_bytes"), sum("sum_packets"), sum("flow_count")).head()
    assert(rawTotals.getLong(0) === rollTotals.getLong(0))
    assert(rawTotals.getLong(1) === rollTotals.getLong(1))
    assert(rawTotals.getLong(2) === rollTotals.getLong(2))
    // every timeslot is 5-min aligned
    assert(rollup.filter(col("timeslot") % 300 =!= 0).count() === 0)
  }

  test("managed time filter: layout-invisible result, cold files skip at the manifest (r11)") {
    import graft.streaming.ManifestTable
    val table = java.nio.file.Files.createTempDirectory("graft_tf_managed_spec").toString
    val plain = FlowQueries.timeFilter(spark, sf).collect().map(_.toSeq).toSeq
    val managed = FlowQueries.timeFilterManaged(spark, sf, tableDir = Some(table))
      .collect().map(_.toSeq).toSeq
    assert(managed.nonEmpty, "registry range must select rows at this sf")
    assert(managed === plain,
      "the manifest-pruned managed read must equal the plain scan exactly")
    // the registry range covers an interior subset of the 8
    // range-partitioned files: at least one cold file must be skipped AT
    // THE MANIFEST (long-compare on recorded stats, no footer read)
    val (sel, tot) = ManifestTable.lastPruneStats(table).get
    assert(tot >= 4, s"expected several range-partitioned files, saw $tot")
    assert(sel >= 1 && sel < tot, s"manifest skip must drop cold files: $sel of $tot")
    // a second call against the same table replays the batch-0 append as a
    // no-op and serves the same answer (build-once-serve-many)
    val again = FlowQueries.timeFilterManaged(spark, sf, tableDir = Some(table))
      .collect().map(_.toSeq).toSeq
    assert(again === plain)
    assert(ManifestTable.lastPruneStats(table).get._2 === tot,
      "the replayed append must not add files")
  }

  test("re-agg over rollup equals direct agg over raw (A2 parity)") {
    val direct = FlowAdapter.flows(spark, sf)
      .groupBy("src_as", "dst_as")
      .agg(sum("bytes").as("total_bytes"))
      .orderBy("src_as", "dst_as")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    val viaRollup = FlowQueries.rollupReagg(spark, sf)
      .select("src_as", "dst_as", "total_bytes")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
    assert(direct.toSeq === viaRollup.toSeq)
  }

  test("top-N: exactly 10 rows, sorted desc, addresses render as text") {
    val top = FlowQueries.topSrcIp(spark, sf).collect()
    assert(top.length === 10)
    val sums = top.map(_.getLong(2))
    assert(sums.toSeq === sums.sortBy(-_).toSeq)
    top.foreach { r =>
      val a = r.getString(0)
      assert(a.contains(".") || a.contains(":"), s"unrendered addr: $a")
    }
  }

  test("etype map: one or two etypes per AS pair, totals consistent") {
    val m = FlowQueries.etypeMapTyped(spark, sf).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val entries = r.getSeq[org.apache.spark.sql.Row](2)
      assert(entries.nonEmpty && entries.size <= 2)
      assert(entries.map(_.getLong(1)).sum === r.getLong(3)) // bytes
      assert(entries.map(_.getLong(3)).sum === r.getLong(5)) // count
    }
  }

  test("approximate unique talkers within HLL error of the exact count") {
    val exact = FlowQueries.uniqueSrc(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = FlowQueries.uniqueSrcApprox(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (bucket, n) =>
      val a = approx(bucket)
      assert(math.abs(a - n).toDouble / n <= 0.10,
        s"bucket $bucket: approx $a vs exact $n")
    }
  }

  test("approx byte quantiles: sketch values within rank-error bound of exact") {
    val acc = 10000
    val fl = FlowAdapter.flows(spark, sf).select("proto", "bytes").cache()
    val approx = FlowQueries.bytesQuantilesApprox(spark, sf, accuracy = acc).collect()
    assert(approx.length === 2) // two protos in the adapter
    approx.foreach { r =>
      val proto = r.getInt(0)
      val vals = fl.filter(col("proto") === proto)
        .collect().map(_.getLong(1)).sorted
      val n = vals.length.toDouble
      assert(r.getLong(4) === vals.length.toLong) // flow_count rides along exactly
      Seq((1, 0.50), (2, 0.95), (3, 0.99)).foreach { case (i, q) =>
        val v = r.getLong(i)
        // GK contract: the returned value's rank is within n/accuracy of
        // the target rank (one extra row of slack for tie plateaus)
        val eps = 1.0 / acc + 1.0 / n
        assert(vals.count(_ < v) / n <= q + eps,
          s"proto=$proto q=$q value=$v sits too high")
        assert(vals.count(_ <= v) / n >= q - eps,
          s"proto=$proto q=$q value=$v sits too low")
      }
    }
    fl.unpersist()
  }

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("time filter bounds are respected and pushed") {
    val df = FlowQueries.timeFilter(spark, sf)
    val mm = df.agg(min("time_received"), max("time_received")).head()
    assert(mm.getLong(0) >= 1704844800L && mm.getLong(1) < 1705708800L)
    // the raw-ts companion bound must reach the parquet scan — a predicate
    // only on the derived time_received would leave PushedFilters empty
    val plan = df.queryExecution.sparkPlan.toString
    assert(plan.contains("GreaterThanOrEqual(ts") && plan.contains("LessThan(ts"),
      s"range predicate not pushed to scan:\n${plan.take(2000)}")
  }

  test("dashboard SQL through the registered function surface equals the DataFrame query") {
    FlowAdapter.flows(spark, sf).createOrReplaceTempView("flows_raw")
    // the viz-ch.json:233 panel, as literal SQL over the registered codecs
    val viaSql = spark.sql(
      """SELECT CASE WHEN etype = 2048 THEN ip4_ntoa(src_ip)
        |            ELSE ip6_ntoa(ip4_to_bin16(src_ip)) END AS addr,
        |       count(*) AS flow_count,
        |       sum(bytes * sampling_rate) AS sum_bytes
        |FROM flows_raw GROUP BY 1
        |ORDER BY sum_bytes DESC, addr ASC LIMIT 10""".stripMargin)
      .collect().map(_.toSeq).toSeq
    val viaDf = FlowQueries.topSrcIp(spark, sf).collect().map(_.toSeq).toSeq
    assert(viaSql === viaDf)
    // the three parser codecs resolve in SQL too: each inverts its render,
    // and an unaliased call is named after the function
    val parsed = spark.sql(
      """SELECT count(*), count_if(ip4_aton(ip4_ntoa(src_ip)) = src_ip),
        |       count_if(ip6_aton(ip_string(ip4_to_bin16(src_ip))) = ip4_to_bin16(src_ip))
        |FROM flows_raw""".stripMargin).head()
    assert(parsed.getLong(0) > 0)
    assert(parsed.getLong(1) === parsed.getLong(0) && parsed.getLong(2) === parsed.getLong(0))
    val named = spark.sql("SELECT ip4_aton(ip4_ntoa(src_ip)) FROM flows_raw").columns.head
    assert(named.startsWith("ip4_aton("), named)
  }

  test("parameterized time ranges: any (from, until) binds like the dashboard $timeFilter") {
    import graft.flow.TimeRange
    val fl = FlowAdapter.flows(spark, sf)
    val span = fl.agg(min("time_received"), max("time_received")).head()
    val (lo, hi) = (span.getLong(0), span.getLong(1))
    val mid = lo + (hi - lo) / 2
    val r = TimeRange(lo, mid)
    // timeFilter with an explicit range returns exactly the manual predicate
    val manual = fl.filter(col("time_received") >= lo && col("time_received") < mid).count()
    assert(FlowQueries.timeFilter(spark, sf, r).count() === manual)
    assert(manual > 0 && manual < fl.count())
    // ranged aggregates equal the same aggregate over the pre-filtered view
    val rangedTotal = FlowQueries.rate30s(spark, sf, Some(r))
      .agg(sum("sum_bits")).head().getLong(0)
    val manualTotal = fl.filter(col("time_received") >= lo && col("time_received") < mid)
      .agg(sum(col("bytes") * col("sampling_rate")) * 8).head().getLong(0)
    assert(rangedTotal === manualTotal)
    // ranged top-N stays within range-consistent totals (subset sum <= full)
    val full = FlowQueries.topSrcIp(spark, sf).agg(sum("flow_count")).head().getLong(0)
    val ranged = FlowQueries.topSrcIp(spark, sf, Some(r)).agg(sum("flow_count")).head().getLong(0)
    assert(ranged <= full)
  }

  test("rollup unpivot: one Expand, 3x rows, per-metric totals reconcile (r11)") {
    val wide = FlowQueries.rollup5m(spark, sf)
    val long = FlowQueries.rollupUnpivot(spark, sf)
    assert(long.count() === wide.count() * 3)
    val byMetric = long.groupBy("metric").agg(sum("value").as("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = wide.agg(sum("sum_bytes"), sum("sum_packets"), sum("flow_count")).head()
    assert(byMetric("sum_bytes") === w.getLong(0))
    assert(byMetric("sum_packets") === w.getLong(1))
    assert(byMetric("flow_count") === w.getLong(2))
    // melt is a single Expand over the rollup — not a 3-way self-union
    // (which would show 3 scans)
    val plan = long.queryExecution.sparkPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }.size === 1)
    assert(plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.size === 1, "unpivot must not re-scan the fact table per metric")
  }

  test("rate gaps: gaps + present minutes tile the span exactly; no flow inside any gap (r11)") {
    val gaps = FlowQueries.rateGaps(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val minutes = FlowAdapter.flows(spark, sf)
      .select(((col("time_received") / 60).cast("long") * 60).as("m"))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(gaps.nonEmpty, "sparse test corpus must have quiet minutes")
    gaps.foreach { case (start, end, missing) =>
      assert(start % 60 == 0 && end % 60 == 0 && start <= end)
      assert(missing === (end - start) / 60 + 1)
      // a gap contains no active minute
      assert(!minutes.exists(m => m >= start && m <= end), s"flow inside gap [$start,$end]")
    }
    // conservation: active minutes + missing minutes tile the span
    val span = (minutes.last - minutes.head) / 60 + 1
    assert(minutes.length + gaps.map(_._3).sum === span,
      "gaps and active minutes must partition the series span")
  }

  test("port scan: every flagged source recounts exactly; threshold gates (r11)") {
    val flagged = FlowQueries.portScan(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(flagged.forall(_._3 >= 5), "threshold must gate the output")
    // brute-force recount for a few flagged (bucket, src_ip) groups
    val fl = FlowAdapter.flows(spark, sf)
      .select(((col("time_received") / 86400).cast("long") * 86400).as("b"),
        col("src_ip"), col("dst_port"), col("dst_ip"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    flagged.take(5).foreach { case (b, src, nPorts, nHosts, nFlows) =>
      val g = fl.filter(x => x._1 == b && x._2 == src)
      assert(g.map(_._3).distinct.length.toLong === nPorts)
      assert(g.map(_._4).distinct.length.toLong === nHosts)
      assert(g.length.toLong === nFlows)
    }
    // a high threshold returns strictly fewer (or equal) sources
    val strict = FlowQueries.portScan(spark, sf, minPorts = 8).count()
    assert(strict <= flagged.length)
    // plan shape: the multi-distinct aggregate expands once and partials
    // map-side — repeated (bucket, src, port) rows collapse before the
    // exchange, so the shuffle carries keys, never raw flow rows
    val plan = FlowQueries.portScan(spark, sf).queryExecution.sparkPlan
    val expands = plan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }
    assert(expands.size === 1, "multi-distinct must plan as a single Expand")
    val aggs = plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.HashAggregateExec => a
    }
    assert(aggs.size >= 2, "expected partial+final aggregates")
  }

  test("port scan sketch twin: equals the exact form in the guarded regime; NO Expand; blobs-only exchange (r14)") {
    val exact = FlowQueries.portScan(spark, sf).collect().map(_.toSeq).toSeq
    val sk = FlowQueries.portScanSketch(spark, sf, strict = true)
      .collect().map(_.toSeq).toSeq
    assert(sk.nonEmpty && sk === exact,
      "below 2^lgK distinct per group the theta estimate is exact")
    // the point of the twin: one pass, no row-stream-doubling Expand
    val plan = FlowQueries.portScanSketch(spark, sf).queryExecution.sparkPlan
    assert(plan.collect {
      case e: org.apache.spark.sql.execution.ExpandExec => e
    }.isEmpty, "sketch form must not Expand")
    assert(plan.collect {
      case a: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => a
    }.size >= 2, "theta aggregates plan as ObjectHashAggregate partial+final")
    // (the strict guard's loud estimation-mode throw is pinned by
    // ThetaSketchSpec — this SF's fan-out can't reach capacity even at
    // lgK=4, so tripping it here would need synthetic data that suite
    // already owns)
  }

  test("port scan auto-router: narrow fan-out routes exact, forced crossover routes sketch; both match (r15)") {
    val exact = FlowQueries.portScan(spark, sf).collect().map(_.toSeq).toSeq
    // this corpus's sampled fan-out sits far below the measured ~100
    // crossover → the router must pick the exact Expand form
    val auto = FlowQueries.portScanAuto(spark, sf)
    assert(auto.queryExecution.analyzed.toString.contains("count(distinct"),
      "narrow fan-out must route to the exact countDistinct form")
    assert(auto.collect().map(_.toSeq).toSeq === exact)
    // crossover=0 makes every group look wide → the sketch branch, which
    // in the exact regime still reproduces the exact rows
    val forced = FlowQueries.portScanAuto(spark, sf, crossover = 0, strict = true)
    assert(forced.queryExecution.analyzed.toString.contains("theta_sketch"),
      "crossover=0 must route to the bounded-memory sketch form")
    assert(forced.collect().map(_.toSeq).toSeq === exact)
  }

  test("ip pagerank: integer fixed-point sweeps replay driver-side; partition-invariant (r12)") {
    val topFromQuery = FlowQueries.ipPageRank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(topFromQuery.length === 20)
    // independent driver replay of the integer iteration
    val f = FlowAdapter.flows(spark, sf)
      .select("src_ip", "dst_ip").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (f.map(_._1) ++ f.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val deg = f.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val base = 150000L / n
    var r = nodes.map(_ -> 1000000L / n).toMap
    for (_ <- 0 until 3) {
      val contribs = f.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
        (r(u) * 85L) / (deg(u) * 100L)
      }.sum).toMap
      r = nodes.map(v => v -> (base + contribs.getOrElse(v, 0L))).toMap
    }
    val want = r.toSeq.sortBy { case (node, rank) => (-rank, node) }.take(20)
    assert(topFromQuery.toSeq === want)
    // rank mass can only shrink (dangling drop + floor division)
    assert(r.values.sum <= 1000000L)
  }

  test("ip pagerank: checkpoint cadence keeps plan depth O(1) per sweep and never changes values (r13)") {
    def planNodes(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case p => p }.size
    // per-sweep cuts (the default): a 20-sweep plan is the SAME size as a
    // 3-sweep plan — everything before the last sweep is a materialized
    // LogicalRDD, so analysis/codegen cost does not grow with iters
    val p3 = planNodes(FlowQueries.ipPageRank(spark, sf, iters = 3))
    val p20 = planNodes(FlowQueries.ipPageRank(spark, sf, iters = 20))
    assert(p20 === p3,
      s"checkpointed 20-sweep plan ($p20 nodes) must not outgrow the 3-sweep plan ($p3)")
    // without cuts the plan stacks one join chain per sweep — the exact
    // growth the cadence exists to prevent (cadence > iters = no cuts)
    val pUncut = planNodes(FlowQueries.ipPageRank(spark, sf, iters = 6, checkpointEvery = 100))
    assert(pUncut > p20, "uncut sweeps must stack plan nodes (else this spec tests nothing)")
    // checkpoint-invariance: the fixed-point arithmetic is deterministic,
    // so cutting lineage can never change a rank
    val cut = FlowQueries.ipPageRank(spark, sf, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val uncut = FlowQueries.ipPageRank(spark, sf, iters = 3, checkpointEvery = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cut === uncut)
    // reliable-checkpoint mode (durable blocks, cluster posture): same values
    val dir = java.nio.file.Files.createTempDirectory("graft-pr-ckpt").toString
    try {
      val reliable = FlowQueries.ipPageRank(spark, sf, iters = 3,
        checkpointDir = Some(dir)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(reliable === uncut)
    } finally graft.Storage.deleteTree(java.nio.file.Paths.get(dir))
  }

  test("moving average: trailing 5-min RANGE frame recounts exactly; gaps shrink the window (r12)") {
    val rows = FlowQueries.movingAvg(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val byBucket = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (b, _, movSum, movN, movAvg) =>
      val inFrame = byBucket.keys.filter(k => k >= b - 240 && k <= b).toSeq
      assert(movN === inFrame.size.toLong, s"bucket $b frame size")
      assert(movSum === inFrame.map(byBucket).sum, s"bucket $b frame sum")
      assert(math.abs(movAvg - math.rint(movSum.toDouble / movN * 1e6) / 1e6) < 1e-9)
    }
  }

  test("dow heatmap: grid totals reconcile with the corpus; weekday arithmetic anchors (r13)") {
    val rows = FlowQueries.dowHeatmap(spark, sf).collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getLong(2), r.getLong(3))))
    assert(rows.nonEmpty)
    rows.foreach { case ((d, h), _) => assert(d >= 0 && d <= 6 && h >= 0 && h <= 23) }
    val f = FlowAdapter.flows(spark, sf)
    assert(rows.map(_._2._2).sum === f.count(), "every flow lands in exactly one cell")
    assert(rows.map(_._2._1).sum ===
      f.agg(sum(col("bytes") * col("sampling_rate"))).head.getLong(0))
    // anchor: 1970-01-01 (epoch day 0) was a Thursday -> (0+3)%7 = 3
    val thu = f.filter(expr("(time_received div 86400 + 3) % 7 = 3"))
      .filter(expr("(time_received % 86400) div 3600 = 0")).count()
    assert(rows.toMap.get((3, 0)).map(_._2).getOrElse(0L) === thu)
  }

  test("anomaly z-score: integer flag agrees with the float z; moments replay exactly (r13)") {
    val rows = FlowQueries.anomalyZscore(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    // replay the per-proto moments driver-side
    val byProto = rows.groupBy(_._1)
    byProto.foreach { case (proto, series) =>
      val n = series.length.toLong
      val sx = series.map(_._3).sum
      val sx2 = series.map(s => s._3 * s._3).sum
      series.foreach { case (_, minute, kb, z, flag) =>
        val znum = kb * n - sx
        val zden2 = n * sx2 - sx * sx
        val wantZ = if (zden2 == 0) 0.0
          else math.rint(znum.toDouble / math.sqrt(zden2.toDouble) * 1e6) / 1e6
        assert(math.abs(z - wantZ) < 1e-9, s"proto $proto minute $minute z")
        assert(flag === (zden2 > 0 && znum * znum >= 9 * zden2),
          s"proto $proto minute $minute flag must equal the integer rule")
        // the flag and the float z agree (strict inequality both ways;
        // the boundary |z| == 3 exactly is measure-zero for real traffic)
        if (flag) assert(math.abs(z) >= 2.999999)
      }
    }
    // full minute coverage: every (proto, minute) with traffic appears once
    val minutes = FlowAdapter.flows(spark, sf)
      .select(col("proto"), (((col("time_received") / 60).cast("long")) * 60).as("m"))
      .distinct().count()
    assert(rows.length.toLong === minutes)
  }

  test("anomaly MAD: lower medians replay driver-side; integer flag matches; z-score twin aligned (r13)") {
    val rows = FlowQueries.anomalyMad(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getDouble(5), r.getBoolean(6)))
    assert(rows.nonEmpty)
    def lowerMedian(xs: Seq[(Long, Long)]): Long = { // (value, minute) tie-broken
      val sorted = xs.sortBy(identity).map(_._1)
      sorted(((sorted.size + 1) / 2) - 1)
    }
    rows.groupBy(_._1).foreach { case (proto, series) =>
      val med = lowerMedian(series.map(s => (s._3, s._2)).toSeq)
      val mad = lowerMedian(series.map(s => (math.abs(s._3 - med), s._2)).toSeq)
      series.foreach { case (_, minute, kb, gotMed, gotMad, z, flag) =>
        assert(gotMed === med, s"proto $proto median")
        assert(gotMad === mad, s"proto $proto MAD")
        val wantZ = if (mad == 0) 0.0
          else math.rint((kb - med).toDouble / (1.4826 * mad.toDouble) * 1e6) / 1e6
        assert(math.abs(z - wantZ) < 1e-9, s"proto $proto minute $minute robust z")
        assert(flag === (mad > 0 && math.abs(kb - med) * 10000 >= mad * 44478),
          s"proto $proto minute $minute flag must equal the integer rule")
      }
    }
    // same grain as the z-score twin: identical (proto, minute) key set
    val zKeys = FlowQueries.anomalyZscore(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rows.map(r => (r._1, r._2)).toSet === zKeys)
  }

  test("src concentration: HHI and top-share replay driver-side; bounds hold (r13)") {
    val rows = FlowQueries.srcConcentration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    // driver replay over (minute, src) flow counts
    val raw = FlowAdapter.flows(spark, sf)
      .selectExpr("(cast(time_received / 60 as long)) * 60 AS minute", "src_ip")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byMin = raw.groupBy(_._1).map { case (m, xs) =>
      m -> xs.groupBy(_._2).map(_._2.size.toLong).toSeq
    }
    rows.foreach { case (minute, nFlows, nSrc, hhi, topShare) =>
      val ns = byMin(minute)
      assert(nFlows === ns.sum && nSrc === ns.size.toLong)
      val wantHhi = math.rint(ns.map(n => n * n).sum.toDouble
        / (ns.sum * ns.sum).toDouble * 1e6) / 1e6
      val wantTop = math.rint(ns.max.toDouble / ns.sum.toDouble * 1e6) / 1e6
      assert(math.abs(hhi - wantHhi) < 1e-9, s"minute $minute hhi")
      assert(math.abs(topShare - wantTop) < 1e-9, s"minute $minute top_share")
      // 1/n_src <= hhi <= 1 and top_share >= 1/n_src (equality iff uniform)
      assert(hhi >= 1.0 / nSrc - 1e-6 && hhi <= 1.0 + 1e-9)
      assert(topShare >= 1.0 / nSrc - 1e-6)
    }
    assert(rows.map(_._1).toSeq === rows.map(_._1).toSeq.sorted)
  }

  test("ewma forecast: 8-lag integer dot product replays; only full-history rows emitted (r13)") {
    val rows = FlowQueries.ewmaForecast(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    // driver replay of the per-(proto, minute) kb series and the lag dot
    val perMin = FlowAdapter.flows(spark, sf)
      .groupBy(col("proto"), ((col("time_received") / 60).cast("long") * 60).as("minute"))
      .agg(expr("sum(bytes * sampling_rate) div 1000").as("kb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val want = perMin.groupBy(_._1).flatMap { case (proto, xs) =>
      val series = xs.sortBy(_._2)
      series.indices.drop(8).map { i =>
        val num = (1 to 8).map(l => series(i - l)._3 * (1L << (8 - l))).sum
        (proto, series(i)._2, series(i)._3, num / 255, series(i)._3 - num / 255)
      }
    }.toSeq.sortBy(x => (x._1, x._2))
    assert(rows.toSeq.sortBy(x => (x._1, x._2)) === want,
      "forecast must equal the driver-side 8-lag weighted dot product")
  }

  test("ip degree distribution: buckets replay driver-side and conserve the source population (r13)") {
    val rows = FlowQueries.ipDegreeDist(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    val edges = FlowAdapter.flows(spark, sf)
      .select("src_ip", "dst_ip").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val degs = edges.groupBy(_._1).map(_._2.size.toLong).toSeq
    def bits(n: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(n)
    val want = degs.groupBy(bits).map { case (b, ds) =>
      (b, ds.size.toLong, ds.min, ds.max, ds.sum)
    }.toSeq.sortBy(_._1)
    assert(rows.toSeq === want)
    // conservation + bucket sanity: every deg in [2^(bits-1), 2^bits)
    assert(rows.map(_._2).sum === degs.size.toLong)
    rows.foreach { case (b, _, lo, hi, _) =>
      assert(lo >= (1L << (b - 1)) && hi < (1L << b), s"bucket $b bounds")
    }
  }

  test("traffic matrix: cells conserve the corpus; shares sum to 1 and replay driver-side (r13)") {
    val rows = FlowQueries.trafficMatrix(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    val fl = FlowAdapter.flows(spark, sf)
      .select("src_as", "dst_as", "bytes", "sampling_rate").collect()
      .map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2) * r.getLong(3)))
    // conservation: flow counts and sampled bytes fold to the corpus totals
    assert(rows.map(_._3).sum === fl.length.toLong)
    assert(rows.map(_._4).sum === fl.map(_._2).sum)
    // per-cell replay + share = cell/total to the rounding the query applies
    val total = fl.map(_._2).sum.toDouble
    val want = fl.groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    rows.foreach { case (s, d, _, sb, share) =>
      assert(sb === want((s, d)))
      assert(math.abs(share - sb / total) < 1e-6, s"cell ($s,$d) share")
    }
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-4, "shares sum to ~1")
    // total order: bytes desc then cell key
    assert(rows.map(r => (-r._4, r._1, r._2)).toSeq === rows.map(r => (-r._4, r._1, r._2)).toSeq.sorted)
  }

  test("bidir ratio: canonical pairs conserve bytes without a self-join; shares replay (r13)") {
    val df = FlowQueries.bidirRatio(spark, sf, k = Int.MaxValue)
    // scale contract: ONE aggregate over the scan — no join of the fact
    // table against its reversed projection
    assert(df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty,
      "pair canonicalization must not join")
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6)))
    val fl = FlowAdapter.flows(spark, sf)
      .select("src_ip", "dst_ip", "bytes", "sampling_rate").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2) * r.getLong(3)))
    assert(rows.map(r => r._3 + r._4).sum === fl.map(_._3).sum, "byte conservation")
    assert(rows.map(r => r._5 + r._6).sum === fl.length.toLong, "flow conservation")
    rows.foreach { case (lo, hi, fb, rb, _, _, share) =>
      assert(lo <= hi, "canonical orientation")
      if (fb + rb > 0) assert(math.abs(share - fb.toDouble / (fb + rb)) < 1e-6)
    }
    // per-pair forward slice replays driver-side
    val want = fl.groupBy(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .map { case (k, xs) => k -> xs.filter(t => t._1 <= t._2).map(_._3).sum }
    rows.foreach { case (lo, hi, fb, _, _, _, _) =>
      assert(fb === want.getOrElse((lo, hi), 0L), s"pair ($lo,$hi)") }
  }

  test("pkt size dist: power-of-two bands partition the corpus (r13)") {
    val df = FlowQueries.pktSizeDist(spark, sf)
    assert(df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j }.isEmpty)
    val rows = df.collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val fl = FlowAdapter.flows(spark, sf)
      .select("proto", "bytes", "packets", "sampling_rate").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._3).sum === fl.length.toLong, "flow conservation")
    rows.foreach { case (_, band, _, _) =>
      assert(band == 0L || (band & (band - 1)) == 0L, s"band $band is a power of two") }
    // replay: each flow's band is the highest power of two <= avg pkt size
    val want = fl.groupBy { case (p, b, pk, _) =>
      val avg = b / pk
      (p, if (avg <= 0) 0L else java.lang.Long.highestOneBit(avg))
    }.map { case (k, xs) => k -> (xs.size.toLong, xs.map(t => t._2 * t._4).sum) }
    assert(rows.map(r => (r._1, r._2) -> (r._3, r._4)).toMap === want)
  }

  test("proto mix shift: integer ppm shares replay; first-day delta is 0; one fact scan (r13)") {
    val df = FlowQueries.protoMixShift(spark, sf)
    assert(df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s }.size === 1,
      "both windows run over the reduced (day, proto) relation — one fact scan")
    val rows = df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
      if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    val byDayProto = FlowAdapter.flows(spark, sf)
      .select(expr("(time_received div 86400) * 86400").as("day"),
        col("proto"), (col("bytes") * col("sampling_rate")).as("b"))
      .collect().map(r => ((r.getLong(0), r.getInt(1)), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val dayTotals = byDayProto.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    rows.foreach { case (day, proto, sb, ppm, prev, delta) =>
      assert(sb === byDayProto((day, proto)))
      assert(ppm === sb * 1000000L / dayTotals(day))
      prev match {
        case Some(p) => assert(delta === ppm - p)
        case None    => assert(delta === 0L, "first observed day has zero delta")
      }
    }
    // per-day ppm shares sum to 1e6 within |protos| floor-truncations
    rows.groupBy(_._1).foreach { case (day, xs) =>
      val s = xs.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - xs.size, s"day $day shares sum $s")
    }
  }
}
