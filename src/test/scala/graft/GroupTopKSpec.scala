package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.flow.FlowAdapter
import graft.plans.{GroupTopK, GroupTopKExec}

class GroupTopKSpec extends SparkTestBase {

  test("top-k per group equals window row_number on the value multiset") {
    val fl = FlowAdapter.flows(spark, sf)
    val got = GroupTopK.topK(fl, Seq(col("proto"), col("etype")), col("bytes"), 5)
      .select("proto", "etype", "bytes")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    val want = fl
      .withColumn("rn", row_number().over(
        Window.partitionBy("proto", "etype").orderBy(desc("bytes"))))
      .filter(col("rn") <= 5)
      .select("proto", "etype", "bytes")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
      .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("partial flush memory valve: a tiny threshold still yields exact top-k") {
    // force the map-side operator to flush its heaps every 3 groups —
    // the final pass must re-merge the multiple partial heap emissions
    // per group into the exact answer
    System.setProperty("graft.topk.partialFlushGroups", "3")
    try {
      // ONE input partition: the per-task group map provably exceeds the
      // 3-group threshold, so the flush path runs (a multi-partition
      // fixture could drop below threshold per task and silently skip it)
      val fl = FlowAdapter.flows(spark, sf).repartition(1)
      val got = GroupTopK.topK(fl, Seq(col("proto"), col("etype")), col("bytes"), 5)
        .select("proto", "etype", "bytes")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
      val want = fl
        .withColumn("rn", row_number().over(
          Window.partitionBy("proto", "etype").orderBy(desc("bytes"))))
        .filter(col("rn") <= 5)
        .select("proto", "etype", "bytes")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getLong(2)))
        .groupBy(t => (t._1, t._2)).view.mapValues(_.map(_._3).sorted.toSeq).toMap
      assert(got === want)
      assert(got.size > 3, "fixture must exceed the flush threshold")
    } finally System.clearProperty("graft.topk.partialFlushGroups")
  }

  test("null ordering values fill out short groups (DESC NULLS LAST parity)") {
    import spark.implicits._
    // group 1: 2 real + 2 null order values, k=3 → window keeps 3 rows
    // (two real + one null); group 2: all-null → still present.
    // the pre-r7 operator dropped every null-ordered row
    val df = Seq((1, Some(10L)), (1, Some(20L)), (1, None), (1, None),
      (2, None), (2, None)).toDF("g", "v")
    def key(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getInt(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val got = key(GroupTopK.topK(df, Seq(col("g")), col("v"), 3).collect())
    val want = key(df.withColumn("rn", row_number().over(
        Window.partitionBy("g").orderBy(desc("v"))))
      .filter(col("rn") <= 3).select("g", "v").collect())
    assert(got === want)
    assert(got.contains(2), "an all-null group must not vanish")
  }

  test("a real Long.MinValue value outranks a null row (r7 advisory)") {
    import spark.implicits._
    // k=1, null first so it seeds the heap: the old encoding keyed null
    // AS Long.MinValue, and strict '>' then kept the null over the real
    // MinValue row. NULLS LAST says the real value must win.
    val df = Seq((1, None: Option[Long]), (1, Some(Long.MinValue)))
      .toDF("g", "v").coalesce(1)
    val got = GroupTopK.topK(df, Seq(col("g")), col("v"), 1).collect()
    assert(got.length === 1)
    assert(!got.head.isNullAt(1) && got.head.getLong(1) === Long.MinValue)
    // and with k=2 both rows survive, null filling out the group
    val both = GroupTopK.topK(df, Seq(col("g")), col("v"), 2).collect()
    assert(both.length === 2)
  }

  test("global top-k (no grouping) plans and returns the overall k largest") {
    val fl = FlowAdapter.flows(spark, sf)
    val got = GroupTopK.topK(fl, Seq.empty, col("bytes"), 7)
      .select("bytes").collect().map(_.getLong(0)).sorted.toSeq
    val want = fl.orderBy(desc("bytes")).limit(7)
      .select("bytes").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === want)
  }

  test("plans as partial + final exec around one bounded exchange, no sort") {
    val df = GroupTopK.topK(FlowAdapter.flows(spark, sf), Seq(col("proto")), col("bytes"), 3)
    val plan = df.queryExecution.sparkPlan
    val execs = plan.collect { case g: GroupTopKExec => g }
    assert(execs.map(_.partial).sorted === Seq(false, true))
    assert(plan.collect { case s: org.apache.spark.sql.execution.SortExec => s }.isEmpty)
    // partial phase bounds what the exchange carries: <= k rows per group
    // per input partition
    val partialRows = df.collect()
    assert(partialRows.length <= 3 * 2) // 2 protos in the adapter
  }

  test("property: random data with ties matches window row_number value multisets") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // small value domain forces boundary ties
    val data = Seq.fill(2000)((rnd.nextInt(20), rnd.nextInt(10).toLong))
    val df = data.toDF("g", "v").repartition(7)
    val got = GroupTopK.topK(df, Seq(col("g")), col("v"), 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val want = data.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted(Ordering[Long].reverse).take(3).sorted.toSeq).toMap
    assert(got === want)
  }

  test("property: double ordering (primitive bit-trick path) matches window, incl -0.0") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val specials = Seq(0.0, -0.0, Double.MinPositiveValue, -1e300, 1e300)
    val data = Seq.fill(1500)((rnd.nextInt(12),
      if (rnd.nextInt(10) == 0) specials(rnd.nextInt(specials.size))
      else rnd.nextGaussian() * 1e6))
    val df = data.toDF("g", "v").repartition(5)
    val got = GroupTopK.topK(df, Seq(col("g")), col("v"), 4)
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val want = data.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted(Ordering[Double].reverse).take(4).sorted.toSeq).toMap
    assert(got === want)
  }

  test("string ordering takes the generic path and matches window") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val data = Seq.fill(800)((rnd.nextInt(8), rnd.alphanumeric.take(6).mkString))
    val df = data.toDF("g", "v").repartition(3)
    val got = GroupTopK.topK(df, Seq(col("g")), col("v"), 3)
      .collect().map(r => (r.getInt(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    val want = data.groupBy(_._1).view
      .mapValues(_.map(_._2).sorted(Ordering[String].reverse).take(3).sorted.toSeq).toMap
    assert(got === want)
  }

  test("groups smaller than k return all their rows") {
    import spark.implicits._
    val df = Seq((1, 10L), (1, 20L), (2, 5L)).toDF("g", "v")
    val got = GroupTopK.topK(df, Seq(col("g")), col("v"), 5)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(got === Set((1, 10L), (1, 20L), (2, 5L)))
  }

  test("a fresh session plans GroupTopK from GraftExtensions; queries install no strategy") {
    val s = spark.newSession()
    val before = s.experimental.extraStrategies
    Seq("flow_top_bytes_per_proto", "text_source_cap", "sim_knn_ivfpq").foreach { q =>
      val df = SparkEntry.queries(q)(s, sf)
      assert(df.queryExecution.sparkPlan.collect { case g: GroupTopKExec => g }.nonEmpty,
        s"$q did not plan GroupTopKExec")
      assert(df.collect().nonEmpty, q)
    }
    assert(s.experimental.extraStrategies === before)
  }
}
