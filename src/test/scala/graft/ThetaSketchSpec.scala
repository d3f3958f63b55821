package graft

import org.apache.spark.sql.functions._
import graft.flow.FlowQueries
import graft.functions.ThetaSketch

/** Theta sketch distinct counting with set ops: exact below 2^lgK
  * (value-for-value, across a real merge tree), loud strict-mode guard in
  * estimation mode, bounded error beyond, and the day-over-day overlap
  * query vs an exact self-join reference. */
class ThetaSketchSpec extends SparkTestBase {
  import spark.implicits._

  test("exact regime: estimate and intersection reproduce exact distinct counts across partials") {
    val rnd = new scala.util.Random(3)
    // two groups with a known overlap, values scattered over 16 partials
    val a = (0 until 900).map(i => ("a", i.toLong))
    val b = (600 until 1400).map(i => ("b", i.toLong))
    val df = (a ++ b).toDF("g", "v").repartition(16)
    val sks = df.groupBy("g").agg(ThetaSketch.thetaSketch(col("v"), 12).as("sk"))
    val est = sks.select(col("g"), ThetaSketch.thetaEstimate(col("sk"), strict = true).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(est("a") === 900L)
    assert(est("b") === 800L)
    val wide = sks.groupBy().pivot("g").agg(first("sk"))
    val ov = wide.select(ThetaSketch.thetaIntersectCount(col("a"), col("b"), strict = true))
      .head().getLong(0)
    assert(ov === 300L, "intersection of exact sketches must be the exact overlap")
  }

  test("strict mode throws loudly in estimation regime instead of silently approximating") {
    // lgK=4 (nominal 16) + 1000 distinct forces estimation mode cheaply
    val sk = (0 until 1000).map(_.toLong).toDF("v")
      .agg(ThetaSketch.thetaSketch(col("v"), 4).as("sk"))
    val e = intercept[Exception](
      sk.select(ThetaSketch.thetaEstimate(col("sk"), strict = true)).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("estimation mode")), msgs(e).mkString(" | "))
    // non-strict path returns a bounded estimate on the same sketch
    val est = sk.select(ThetaSketch.thetaEstimate(col("sk"), strict = false))
      .head().getLong(0)
    assert(math.abs(est - 1000.0) / 1000.0 < 0.5, s"estimate $est wildly off")
  }

  test("SQL surface: theta family equals the Column API; non-literal strict fails loudly") {
    val df = (0 until 500).map(i => (if (i % 2 == 0) "a" else "b", (i / 3).toLong))
      .toDF("g", "v")
    df.createOrReplaceTempView("th_sql_input")
    val viaSql = spark.sql(
      """SELECT g, theta_estimate(s, true) AS e FROM (
        |  SELECT g, theta_sketch(v, 12) AS s FROM th_sql_input GROUP BY g)
        | ORDER BY g""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaCol = df.groupBy("g")
      .agg(ThetaSketch.thetaSketch(col("v"), 12).as("s"))
      .select(col("g"), ThetaSketch.thetaEstimate(col("s"), strict = true).as("e"))
      .orderBy("g")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSql === viaCol)
    val ixSql = spark.sql(
      """SELECT theta_intersect_count(a.s, b.s, true) FROM
        |  (SELECT theta_sketch(v, 12) AS s FROM th_sql_input WHERE g = 'a') a,
        |  (SELECT theta_sketch(v, 12) AS s FROM th_sql_input WHERE g = 'b') b""".stripMargin)
      .head().getLong(0)
    // evens: v in {0,..,166}; odds: v in {0,..,166} — overlap is the
    // intersection of the two floor-div images
    val evens = (0 until 500 by 2).map(_ / 3).toSet
    val odds = (1 until 500 by 2).map(_ / 3).toSet
    assert(ixSql === (evens & odds).size.toLong)
    // theta_fold folds blobs: union of the two group sketches counts the
    // distinct union of both value sets
    val unSql = spark.sql(
      """SELECT theta_estimate(theta_fold(s, 12), true) FROM (
        |  SELECT theta_sketch(v, 12) AS s FROM th_sql_input GROUP BY g)""".stripMargin)
      .head().getLong(0)
    assert(unSql === (0 until 500).map(_ / 3).distinct.size.toLong)
    val err = intercept[Exception](
      spark.sql("SELECT theta_estimate(theta_sketch(v, 12), v > 0) FROM th_sql_input").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("BOOLEAN literal")), msgs(err).mkString(" | "))
  }

  test("no graft SQL function shadows a Spark built-in; the built-in theta_union still resolves") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    // a bare new session: GraftExtensions alone brings every graft name
    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val builtin = FunctionRegistry.builtin
    // graft's names: every function the session resolves to something
    // other than Spark's own built-in entry
    val graftNames = reg.listFunction().filterNot(id =>
      builtin.lookupFunction(id).exists(_ eq reg.lookupFunction(id).get))
      .map(_.funcName).toSet
    assert(graftNames.size === 24 && graftNames.contains("theta_fold"), graftNames)
    assert(graftNames === GraftFunctions.sqlFunctions.map(_._1).toSet)
    val shadowed = graftNames & builtin.listFunction().map(_.funcName).toSet
    assert(shadowed.isEmpty, s"graft functions shadow Spark built-ins: $shadowed")
    // Spark's scalar theta_union over two sketches, in a graft session
    val n = s.sql(
      """SELECT theta_sketch_estimate(theta_union(a, b)) FROM (
        |  SELECT theta_sketch_agg(x) AS a, theta_sketch_agg(y) AS b
        |  FROM VALUES (1, 2), (2, 3) AS t(x, y))""".stripMargin)
      .head().getLong(0)
    assert(n === 3L)
  }

  test("streaming theta MV: cross-batch fold answers day-over-day overlap exactly (exact regime)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.flow.{FlowGen, FlowMessage}
    import graft.streaming.FlowStreams
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = java.nio.file.Files.createTempDirectory("graft_theta_mv").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_theta_cp").toString
    // 3 micro-batches spanning 2 days (86400s apart windows)
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 60, seed = 40 + b, baseTime = 1704067200L + b * 43200L,
        ratePerSec = 1).collect().toSeq)
    val q = FlowStreams.UniqueSrcTheta.start(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readUniqueSrcOverlapManaged(spark, out, strict = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty, "expected at least one consecutive-day pair")
    // exact reference from the raw batches
    val all = spark.createDataFrame(batches.flatten)
    val d = all.select(((col("timeReceived") / 86400).cast("long") * 86400).as("day"),
        graft.GraftFunctions.reinterpret_uint32(col("srcAddr")).as("ip"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDay = d.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    got.foreach { case (day, nextDay, uDay, uNext, overlap) =>
      assert(nextDay === day + 86400)
      assert(uDay === byDay(day).size.toLong)
      assert(uNext === byDay(nextDay).size.toLong)
      assert(overlap === (byDay(day) & byDay(nextDay)).size.toLong)
    }
  }

  test("theta MV compaction: fold is read-invisible, replay-guarded, restartable (r12)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.flow.{FlowGen, FlowMessage}
    import graft.streaming.{FlowStreams, ManifestTable}
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = java.nio.file.Files.createTempDirectory("graft_theta_opt").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_theta_optcp").toString
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 60, seed = 70 + b, baseTime = 1704067200L + b * 43200L,
        ratePerSec = 1).collect().toSeq)
    val q1 = FlowStreams.UniqueSrcTheta.start(src.toDF(), out, cp)
    src.addData(batches(0)); q1.processAllAvailable()
    src.addData(batches(1)); q1.processAllAvailable()
    q1.stop()
    def readAll() = FlowStreams.readUniqueSrcOverlapManaged(spark, out, strict = true).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val before = readAll()
    assert(FlowStreams.UniqueSrcTheta.optimizeOnline(spark, out))
    // exactly the fold output in the snapshot
    val files = ManifestTable.snapshot(out)._2
    assert(files.size === 1 && files.head.startsWith("c"),
      s"expected only the fold file, got $files")
    assert(readAll() === before, "compaction must be read-invisible")
    // restart from the same checkpoint: replays of absorbed batches are
    // no-ops (guard), the NEW batch lands normally
    val q2 = FlowStreams.UniqueSrcTheta.start(src.toDF(), out, cp)
    src.addData(batches(2)); q2.processAllAvailable()
    q2.stop()
    val after = readAll()
    // reference: one sketch pass over all three raw batches
    val all = spark.createDataFrame(batches.flatten)
    val d = all.select(((col("timeReceived") / 86400).cast("long") * 86400).as("day"),
        graft.GraftFunctions.reinterpret_uint32(col("srcAddr")).as("ip"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDay = d.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = byDay.keys.toSeq.sorted.sliding(2).collect {
      case Seq(a, b) if b == a + 86400 =>
        (a, byDay(a).size.toLong, byDay(b).size.toLong, (byDay(a) & byDay(b)).size.toLong)
    }.toSeq
    assert(after === want, "post-restart read must equal the batch-at-once reference")
  }

  test("managed theta MV: online fold concurrent with the stream; reads stay exact (r12)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.flow.{FlowGen, FlowMessage}
    import graft.streaming.{FlowStreams, ManifestTable}
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val table = java.nio.file.Files.createTempDirectory("graft_theta_man").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_theta_mancp").toString
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 60, seed = 80 + b, baseTime = 1704067200L + b * 43200L,
        ratePerSec = 1).collect().toSeq)
    val q = FlowStreams.UniqueSrcTheta.start(src.toDF(), table, cp)
    src.addData(batches(0)); q.processAllAvailable()
    src.addData(batches(1)); q.processAllAvailable()
    // ONLINE fold while the stream is live
    assert(FlowStreams.UniqueSrcTheta.optimizeOnline(spark, table))
    val (_, afterFold) = ManifestTable.snapshot(table)
    assert(afterFold.size === 1, s"fold must leave one file, got ${afterFold.size}")
    src.addData(batches(2)); q.processAllAvailable()
    q.stop()
    val got = FlowStreams.readUniqueSrcOverlapManaged(spark, table, strict = true)
      .collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val all = spark.createDataFrame(batches.flatten)
    val d = all.select(((col("timeReceived") / 86400).cast("long") * 86400).as("day"),
        graft.GraftFunctions.reinterpret_uint32(col("srcAddr")).as("ip"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDay = d.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = byDay.keys.toSeq.sorted.sliding(2).collect {
      case Seq(a, b) if b == a + 86400 =>
        (a, byDay(a).size.toLong, byDay(b).size.toLong, (byDay(a) & byDay(b)).size.toLong)
    }.toSeq
    assert(got === want,
      "managed read across fold + post-fold appends must equal the batch reference")
  }

  test("flow_unique_src_overlap matches an exact distinct self-join at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val got = FlowQueries.uniqueSrcOverlap(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    val d = graft.flow.FlowAdapter.flows(spark, dir)
      .select(((col("time_received") / 86400).cast("long") * 86400).as("day"), col("src_ip"))
      .distinct()
    val u = d.groupBy("day").agg(count(lit(1)).as("uniq"))
    val o = d.as("x").join(d.as("y"),
        col("y.day") === col("x.day") + 86400 && col("y.src_ip") === col("x.src_ip"))
      .groupBy(col("x.day").as("day")).agg(count(lit(1)).as("overlap"))
    val wantRows = u
      .join(u.withColumnRenamed("uniq", "uniq2").withColumn("day", col("day") - 86400), "day")
      .join(o, Seq("day"), "left")
      .na.fill(0, Seq("overlap"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got.sortBy(_._1).toSeq === wantRows.toSeq)
  }
}
