package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.flow.{FlowGen, FlowMessage}
import graft.functions.QuantileSketch
import graft.streaming.{FlowStreams, ManifestTable}

/** Mergeable KLL quantile sketch (`quantileState`/`quantileMerge` MV
  * pattern): exact below compaction, rank-error-bounded beyond it, and a
  * streaming MV whose cross-batch fold matches the batch reference. */
class QuantileSketchSpec extends SparkTestBase {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_qsketch").toString

  /** Inclusive-rank quantile over raw values: smallest v with
    * |{x <= v}| >= ceil(p * n) (p=0 → min) — what the KLL INCLUSIVE
    * criteria returns when the sketch retains every value. */
  private def exactInclusive(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (p <= 0.0) s.head
    else s(math.ceil(p * s.size).toInt - 1)
  }

  test("exact regime: sketch/merge split reproduces inclusive-rank quantiles value-for-value") {
    // 150 values per group < k=200: no compaction, the sketch holds all
    val rnd = new scala.util.Random(7)
    val rows = for (g <- Seq("a", "b"); _ <- 0 until 150)
      yield (g, rnd.nextInt(100000).toDouble)
    val df = rows.toDF("g", "v")
    // three "micro-batch" partials per group, folded at read time
    val blobs = df.withColumn("part", pmod(monotonically_increasing_id(), lit(3)))
      .groupBy("g", "part")
      .agg(QuantileSketch.quantileSketch(col("v"), 200).as("s"))
    val probs = Seq(0.0, 0.5, 0.9, 0.99, 1.0)
    val got = blobs.groupBy("g")
      .agg(QuantileSketch.quantileMerge(col("s"), 200, probs).as("qs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    rows.groupBy(_._1).foreach { case (g, grp) =>
      val xs = grp.map(_._2)
      probs.zipWithIndex.foreach { case (p, i) =>
        assert(got(g)(i) === exactInclusive(xs, p),
          s"group $g p=$p: sketch diverged from exact inclusive quantile")
      }
    }
  }

  test("strict guard: exact regime passes, estimation mode throws (r14 verdict #3)") {
    val small = (1 to 100).map(_.toDouble).toDF("v")
    // below k: strict merge evaluates fine and is the exact order statistic
    val ok = small.agg(QuantileSketch.quantileSketch(col("v"), 200).as("s"))
      .agg(QuantileSketch.quantileMerge(col("s"), 200, Seq(0.5), strict = true).as("q"))
      .head().getSeq[Double](0)
    assert(ok.head === 50.0) // ceil(0.5*100) = 50th order statistic
    // above k: the fold compacts — strict must THROW, not silently
    // hand an approximate quantile to an exact oracle
    val big = (1 to 5000).map(_.toDouble).toDF("v")
    val e = intercept[org.apache.spark.SparkException] {
      big.agg(QuantileSketch.quantileSketch(col("v"), 200).as("s"))
        .agg(QuantileSketch.quantileMerge(col("s"), 200, Seq(0.5), strict = true).as("q"))
        .collect()
    }
    assert(e.getMessage.contains("estimation mode"),
      s"expected the strict estimation-mode refusal, got: ${e.getMessage}")
  }

  test("strict GK guard: approx_percentile registration raises beyond the exact regime") {
    // flow_bytes_quantiles_approx's structural guard: the strict form
    // must refuse when a group's count reaches accuracy/2
    val e = intercept[Exception] {
      graft.flow.FlowQueries.bytesQuantilesApprox(
        spark, "/root/testdata/sf0.001", accuracy = 10, strict = true).collect()
    }
    assert(e.getMessage.contains("approximate regime"),
      s"expected the accuracy-regime refusal, got: ${e.getMessage}")
  }

  test("compaction regime: folded quantiles stay inside KLL's normalized rank error") {
    val rnd = new scala.util.Random(11)
    // heavy-tailed so rank error (not value error) is the right measure
    val xs = Seq.fill(100000)(math.exp(rnd.nextGaussian() * 2.0))
    val df = xs.toDF("v")
    val probs = Seq(0.1, 0.5, 0.9, 0.99)
    // split into 8 partials, then fold — the merge tree a streaming MV does
    val got = df.withColumn("part", pmod(monotonically_increasing_id(), lit(8)))
      .groupBy("part").agg(QuantileSketch.quantileSketch(col("v"), 200).as("s"))
      .agg(QuantileSketch.quantileMerge(col("s"), 200, probs).as("qs"))
      .head().getSeq[Double](0)
    val sorted = xs.sorted
    probs.zipWithIndex.foreach { case (p, i) =>
      val q = got(i)
      val rank = sorted.count(_ <= q).toDouble / sorted.size
      // ε(k=200) ≈ 1.65%; allow 2x for the merge tree
      assert(math.abs(rank - p) <= 0.033,
        s"p=$p: returned value sits at rank $rank — outside the KLL envelope")
    }
  }

  test("mixed-k merge fails loudly instead of silently degrading accuracy") {
    val blob = Seq(1.0, 2.0, 3.0).toDF("v")
      .agg(QuantileSketch.quantileSketch(col("v"), 128).as("s"))
    val e = intercept[Exception](
      blob.agg(QuantileSketch.quantileMerge(col("s"), 200, Seq(0.5))).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("coarser rank error")), msgs(e).mkString(" | "))
  }

  test("SQL surface: quantile_sketch/quantile_merge equal the Column API; non-literal k fails loudly") {
    val rnd = new scala.util.Random(5)
    val df = Seq.fill(120)(rnd.nextInt(10000).toDouble).toDF("v")
    df.createOrReplaceTempView("qs_sql_input")
    val viaSql = spark.sql(
      """SELECT quantile_merge(s, 200, 0.5, 0.9) AS qs FROM (
        |  SELECT quantile_sketch(v, 200) AS s FROM qs_sql_input)""".stripMargin)
      .head().getSeq[Double](0)
    val viaCol = df.agg(QuantileSketch.quantileSketch(col("v"), 200).as("s"))
      .agg(QuantileSketch.quantileMerge(col("s"), 200, Seq(0.5, 0.9)).as("qs"))
      .head().getSeq[Double](0)
    assert(viaSql === viaCol)
    val err = intercept[Exception](
      spark.sql("SELECT quantile_sketch(v, v) FROM qs_sql_input").collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("INT literal")), msgs(err).mkString(" | "))
  }

  test("bytes-quantiles MV compaction: exact-regime fold reads identically (r12)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 50, seed = 60 + b, baseTime = 1704067200L + b * 600,
        ratePerSec = 10).collect().toSeq)
    val q = FlowStreams.BytesQuantiles.start(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    def readAll() = FlowStreams.readBytesQuantilesManaged(spark, out).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).toSeq
    val before = readAll()
    assert(FlowStreams.BytesQuantiles.optimizeOnline(spark, out))
    // exactly the fold output: one folded file per date partition
    val byDate = ManifestTable.filesByPartition(ManifestTable.snapshot(out)._2)
    assert(byDate.values.forall(fs => fs.size == 1 && fs.head.contains("/c")),
      s"expected one fold file per partition, got $byDate")
    // sub-k regime: the folded sketch retains every value, so the read is
    // value-identical, not merely within rank error
    assert(readAll() === before)
  }

  test("managed bytes-quantiles MV: online fold mid-stream; exact-regime reads unchanged (r12)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val table = tmp(); val cp = tmp()
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 50, seed = 30 + b, baseTime = 1704067200L + b * 600,
        ratePerSec = 10).collect().toSeq)
    val q = FlowStreams.BytesQuantiles.start(src.toDF(), table, cp)
    src.addData(batches(0)); q.processAllAvailable()
    src.addData(batches(1)); q.processAllAvailable()
    assert(FlowStreams.BytesQuantiles.optimizeOnline(spark, table))
    src.addData(batches(2)); q.processAllAvailable()
    q.stop()
    val got = FlowStreams.readBytesQuantilesManaged(spark, table).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5))).sortBy(x => (x._1, x._2)).toSeq
    // batch-at-once reference over all three raw batches (sub-k: exact)
    val all = spark.createDataFrame(batches.flatten)
    val want = FlowStreams.BytesQuantiles.partials(all)
      .groupBy("event_date", "proto")
      .agg(QuantileSketch.quantileMerge(col("q_sketch"), 200, Seq(0.5, 0.9, 0.99)).as("qs"),
        sum("flow_count").as("fc"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getSeq[Double](2)(0),
        r.getSeq[Double](2)(1), r.getSeq[Double](2)(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2)).toSeq
    assert(got === want,
      "managed read across the online fold must equal the batch sketch (exact regime)")
  }

  test("streaming bytes-quantiles MV: cross-batch fold equals the batch reference (exact regime)") {
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[FlowMessage]
    val out = tmp(); val cp = tmp()
    // 3 batches x 50 flows: per-(date, proto) group sizes stay below
    // k=200 even if one group takes every flow → no compaction → MV
    // quantiles are EXACT, so the cross-batch fold must equal the
    // batch-at-once read value-for-value
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 50, seed = 90 + b, baseTime = 1704067200L + b * 600,
        ratePerSec = 10).collect().toSeq)
    val q = FlowStreams.BytesQuantiles.start(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readBytesQuantilesManaged(spark, out).collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getLong(5)))
    assert(got.nonEmpty)
    assert(got.map(_._6).sum === 150L)
    val all = spark.createDataFrame(batches.flatten)
    val want = FlowStreams.BytesQuantiles.partials(all)
      .groupBy("event_date", "proto")
      .agg(QuantileSketch.quantileMerge(col("q_sketch"), 200, Seq(0.5, 0.9, 0.99)).as("qs"),
        sum("flow_count").as("fc"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getSeq[Double](2)(0),
        r.getSeq[Double](2)(1), r.getSeq[Double](2)(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))
    assert(got.sortBy(x => (x._1, x._2)).toSeq === want.toSeq,
      "MV fold must equal the batch sketch in the exact regime")
    // and the p50 really is the inclusive median of the raw bytes
    val byGroup = all.select(
        date_format(date_add(to_date(lit("1970-01-01")),
          (col("timeReceived") / 86400).cast("int")), "yyyy-MM-dd").as("d"),
        col("proto"), col("bytes").cast("double").as("b"))
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    got.foreach { case (d, proto, p50, _, _, _) =>
      assert(p50 === exactInclusive(byGroup((d, proto)), 0.5),
        s"($d, $proto): p50 not the inclusive median")
    }
  }
}
