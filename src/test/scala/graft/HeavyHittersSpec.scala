package graft

import org.apache.spark.sql.functions._
import graft.functions.{HeavyHitters, SpaceSavingState}

/** The custom mergeable SpaceSaving aggregate: exact-regime equality,
  * eviction-regime guarantees, merge correctness, partitioning
  * independence of the guarantee. */
class HeavyHittersSpec extends SparkTestBase {
  import spark.implicits._

  // Zipf-ish stream over a known item set: item i appears weight(i) times
  private def stream(nItems: Int): Seq[Long] =
    (0 until nItems).flatMap(i => Seq.fill(1 + (nItems - i) * (nItems - i) / 4)(i.toLong))

  private def trueCounts(xs: Seq[Long]): Map[Long, Long] =
    xs.groupBy(identity).map { case (k, v) => k -> v.length.toLong }

  test("exact regime: capacity above cardinality reproduces plain counts, err 0") {
    val xs = stream(40)
    val got = xs.toDF("v").repartition(7)
      .agg(HeavyHitters.heavyHitters(col("v"), capacity = 64, k = 10).as("hh"))
      .select(explode(col("hh"))).select("col.item", "col.est", "col.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val truth = trueCounts(xs)
    val want = truth.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(got.map(r => (r._1, r._2)).toSeq === want)
    assert(got.forall(_._3 === 0L), "no eviction -> zero error terms")
  }

  test("eviction regime: per-item bounds hold and true heavy items are never lost") {
    val xs = stream(200) // 200 distinct >> capacity 32
    val truth = trueCounts(xs)
    val n = xs.length.toLong
    for (parts <- Seq(1, 13)) {
      val got = xs.toDF("v").repartition(parts)
        .agg(HeavyHitters.heavyHitters(col("v"), capacity = 32, k = 32).as("hh"))
        .select(explode(col("hh"))).select("col.item", "col.est", "col.err")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(got.length === 32)
      got.foreach { case (item, est, err) =>
        val t = truth.getOrElse(item, 0L)
        assert(t <= est, s"parts=$parts item $item: true $t > est $est")
        assert(est - err <= t, s"parts=$parts item $item: est-err ${est - err} > true $t")
      }
      // SpaceSaving guarantee: anything with freq > n/capacity is present
      val reported = got.map(_._1).toSet
      truth.filter(_._2 > n / 32).keys.foreach { hh =>
        assert(reported.contains(hh), s"parts=$parts lost heavy item $hh")
      }
    }
  }

  test("state merge: absent items charge the other side's minimum; serialization round-trips") {
    val a = new SpaceSavingState(4)
    Seq(1L, 1L, 1L, 2L, 2L, 3L, 4L).foreach(a.update) // full, min est 1
    val b = new SpaceSavingState(4)
    Seq(5L, 5L, 5L, 5L, 6L, 7L, 8L).foreach(b.update) // full, min est 1
    val aMin = a.minEst
    val bMin = b.minEst
    val aItems = a.items.toMap
    a.merge(b)
    assert(a.items.size === 4, "merge must trim back to capacity")
    // item 5 was absent from a: merged est = 4 (from b) + a's min charge
    val (est5, err5) = a.items(5L)
    assert(est5 === 4L + aMin && err5 === 0L + aMin)
    // item 1 was absent from b: est = 3 + bMin, and survives the trim
    val (est1, err1) = a.items(1L)
    assert(est1 === aItems(1L)._1 + bMin && err1 === aItems(1L)._2 + bMin)
    val rt = SpaceSavingState.deserialize(a.serialize())
    assert(rt.capacity === a.capacity && rt.items.toMap === a.items.toMap)
  }

  test("SQL surface: heavy_hitters(item, capacity, k) equals the Column API; non-literal knobs fail loudly") {
    val xs = stream(40)
    xs.toDF("v").createOrReplaceTempView("hh_sql_input")
    val viaSql = spark.sql(
      "SELECT explode(heavy_hitters(v, 64, 10)) AS e FROM hh_sql_input")
      .select("e.item", "e.est", "e.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaCol = xs.toDF("v")
      .agg(HeavyHitters.heavyHitters(col("v"), 64, 10).as("hh"))
      .select(explode(col("hh"))).select("col.item", "col.est", "col.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaSql === viaCol)
    val err = intercept[Exception](
      spark.sql("SELECT heavy_hitters(v, v, 10) FROM hh_sql_input").collect())
    assert(err.getMessage.contains("INT literal") ||
      Option(err.getCause).exists(_.getMessage.contains("INT literal")))
  }

  test("SQL surface: sketch -> fold -> merge pipeline equals the direct aggregate (r12)") {
    val xs = stream(40)
    xs.zipWithIndex.map { case (v, i) => (v, i % 4) }.toDF("v", "part")
      .createOrReplaceTempView("hh_fold_input")
    // per-part partials folded to one blob, then finalized — the MV
    // compaction path, all through the SQL registry
    val viaSql = spark.sql(
      """SELECT explode(heavy_hitters_merge(f, 64, 10)) AS e FROM (
        |  SELECT heavy_hitters_fold(s, 64) AS f FROM (
        |    SELECT heavy_hitters_sketch(v, 64) AS s FROM hh_fold_input GROUP BY part))""".stripMargin)
      .select("e.item", "e.est", "e.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val direct = xs.toDF("v")
      .agg(HeavyHitters.heavyHitters(col("v"), 64, 10).as("hh"))
      .select(explode(col("hh"))).select("col.item", "col.est", "col.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // no-eviction regime (40 values, 64 counters): fold path is exact
    assert(viaSql === direct)
  }

  test("lazy min-heap state is operation-for-operation identical to the naive scan reference") {
    // the old O(capacity)-scan-per-eviction implementation, kept here as
    // the differential oracle for the heap-based rewrite
    final class Naive(val capacity: Int) {
      val items = scala.collection.mutable.LongMap.empty[(Long, Long)]
      def minEst: Long =
        if (items.size < capacity) 0L
        else { var m = Long.MaxValue; items.foreachValue(v => if (v._1 < m) m = v._1); m }
      def update(v: Long): Unit = items.get(v) match {
        case Some((est, err)) => items.update(v, (est + 1, err))
        case None if items.size < capacity => items.update(v, (1L, 0L))
        case None =>
          var victim = 0L; var vEst = Long.MaxValue
          items.foreach { case (k, (est, _)) =>
            if (est < vEst || (est == vEst && k < victim)) { victim = k; vEst = est }
          }
          items.remove(victim)
          items.update(v, (vEst + 1, vEst))
      }
    }
    val rnd = new scala.util.Random(42)
    for (cap <- Seq(1, 4, 16); domain <- Seq(2, 8, 64, 512)) {
      val st = new SpaceSavingState(cap)
      val ref = new Naive(cap)
      var i = 0
      while (i < 5000) {
        val v = rnd.nextInt(domain).toLong
        st.update(v); ref.update(v)
        if (i % 97 == 0) assert(st.minEst === ref.minEst,
          s"cap=$cap domain=$domain step $i: minEst diverged")
        i += 1
      }
      assert(st.items.toMap === ref.items.toMap,
        s"cap=$cap domain=$domain: summary diverged from scan reference")
      // and the heap survives a merge + serialization round-trip
      val other = new SpaceSavingState(cap)
      (0 until 1000).foreach(_ => other.update(rnd.nextInt(domain).toLong))
      st.merge(other)
      val rt = SpaceSavingState.deserialize(st.serialize())
      (0 until 500).foreach { _ =>
        val v = rnd.nextInt(domain).toLong
        st.update(v); rt.update(v)
      }
      assert(st.items.toMap === rt.items.toMap, "post-merge/deser streams diverged")
    }
  }

  test("exact-regime guard: oracle registration raises loudly when cardinality exceeds capacity") {
    // sub-capacity: fine (the registry path)
    assert(graft.flow.FlowQueries.heavyHitters(spark, sf, requireExactRegime = true)
      .count() > 0)
    // force the eviction regime with a tiny capacity: the guard must throw
    // instead of silently diffing approximate output against an exact oracle
    val e = intercept[Exception](
      graft.flow.FlowQueries.heavyHitters(spark, sf, capacity = 2, k = 2,
        requireExactRegime = true).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("exact-regime violated")), msgs(e).mkString(" | "))
    // the unguarded default stays usable in the eviction regime
    assert(graft.flow.FlowQueries.heavyHitters(spark, sf, capacity = 2, k = 2).count() > 0)
  }

  test("streaming top-talkers MV: cross-batch sketch merge equals the batch sketch over the union") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.flow.{FlowGen, FlowMessage}
    import graft.streaming.FlowStreams
    implicit val sqlCtx = spark.sqlContext
    def tmpDir(): String =
      java.nio.file.Files.createTempDirectory("graft-hh-mv").toString
    val out = tmpDir(); val cp = tmpDir()
    val batches = (0 until 3).map(b =>
      FlowGen.flows(spark, 400, seed = 70 + b, baseTime = 1704067200L + b * 600,
        ratePerSec = 10).collect().toSeq)
    val src = MemoryStream[FlowMessage]
    val q = FlowStreams.TopTalkers.start(src.toDF(), out, cp)
    batches.foreach { b => src.addData(b); q.processAllAvailable() }
    q.stop()
    val got = FlowStreams.readTopTalkersManaged(spark, out)
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    assert(got.forall(_._6 === 0L), "sub-capacity cardinality must merge exactly (err 0)")
    // the batch-at-once reference over the UNION of every micro-batch
    val all = spark.createDataFrame(batches.flatten)
    val want = FlowStreams.TopTalkers.partials(all)
      .groupBy("event_date", "proto")
      .agg(HeavyHitters.heavyHittersMerge(col("hh_sketch"), 256, 10).as("hh"))
      .select(col("event_date"), col("proto"), posexplode(col("hh")))
      .select(col("event_date"), col("proto"), (col("pos") + 1).cast("int").as("rank"),
        col("col.item"), col("col.est"), col("col.err"))
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.sortBy(x => (x._1, x._2, x._3)).toSeq ===
      want.sortBy(x => (x._1, x._2, x._3)).toSeq,
      "MV read must equal the batch sketch over the union")
  }

  test("sketch/merge split survives the eviction regime: bounds and heavy coverage intact") {
    val xs = stream(200) // 200 distinct >> capacity 32
    val truth = trueCounts(xs)
    val n = xs.length.toLong
    // three "micro-batches" with interleaved membership
    val parts = xs.zipWithIndex.groupBy(_._2 % 3).values.toSeq.map(_.map(_._1))
    val blobs = parts.map { p =>
      p.toDF("v").agg(HeavyHitters.heavyHittersSketch(col("v"), 32).as("s"))
        .head().getAs[Array[Byte]](0)
    }
    val got = blobs.toDF("s")
      .agg(HeavyHitters.heavyHittersMerge(col("s"), 32, 32).as("hh"))
      .select(explode(col("hh"))).select("col.item", "col.est", "col.err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 32)
    got.foreach { case (item, est, err) =>
      val t = truth.getOrElse(item, 0L)
      assert(t <= est && est - err <= t,
        s"item $item: bounds violated (true $t, est $est, err $err)")
    }
    val reported = got.map(_._1).toSet
    truth.filter(_._2 > n / 32).keys.foreach { hh =>
      assert(reported.contains(hh), s"cross-batch merge lost heavy item $hh")
    }
    // mixed-capacity merges must fail loudly, not silently de-bound
    val e = intercept[Exception](
      blobs.toDF("s").agg(HeavyHitters.heavyHittersMerge(col("s"), 64, 10)).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("no sound error bound")), msgs(e).mkString(" | "))
  }

  test("flow_heavy_hitters registry query: exact regime at this SF matches the windowed top-10") {
    val sk = graft.flow.FlowQueries.heavyHitters(spark, sf).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(sk.nonEmpty && sk.forall(_._5 == 0L), "sub-capacity cardinality must be exact")
    val exact = graft.flow.FlowAdapter.flows(spark, sf)
      .groupBy("proto", "src_ip").agg(count(lit(1)).as("c"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("proto")
          .orderBy(desc("c"), asc("src_ip"))))
      .filter(col("rank") <= 10)
      .select("proto", "rank", "src_ip", "c").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(sk.map(r => (r._1, r._2, r._3, r._4)).sortBy(x => (x._1, x._2)).toSeq ===
      exact.sortBy(x => (x._1, x._2)).toSeq)
  }
}
