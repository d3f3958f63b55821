package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[graft.plans.SmallInputSinglePartition]]: under AQE, a query over one
  * input no larger than the advisory partition size runs its shuffles as
  * single-partition exchanges; every other plan keeps its exchanges. */
class SmallInputSinglePartitionSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft_single_part").resolve("t").toString
    (0 until 2000).map(i => (i % 37L, i.toLong)).toDF("k", "v").repartition(4).write.parquet(d)
    d
  }
  private def input: DataFrame = spark.read.parquet(dir)

  /** The exchanges of the final adaptive plan, after running `df`. */
  private def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShuffleExchangeExec => e }
  }

  private def single(e: ShuffleExchangeExec): Boolean = e.outputPartitioning == SinglePartition

  private val expected: Seq[(Long, Long)] =
    (0 until 2000).groupBy(_ % 37L).map { case (k, vs) => (k, vs.map(_.toLong).sum) }.toSeq.sortBy(_._1)

  test("fires on a small single-scan aggregate + ORDER BY: one single-partition exchange, no range exchange") {
    val df = input.groupBy("k").agg(sum("v").as("s")).orderBy("k")
    val ex = exchanges(df)
    assert(ex.size === 1 && single(ex.head), ex.map(_.outputPartitioning))
    assert(df.as[(Long, Long)].collect().toSeq === expected)
  }

  test("does not fire on a join") {
    val df = input.join(input.select(col("k"), col("v").as("w")), "k")
      .groupBy("k").agg(sum("w").as("s")).orderBy("k")
    val ex = exchanges(df)
    assert(ex.nonEmpty && !ex.exists(single), ex.map(_.outputPartitioning))
  }

  test("does not fire on repartition(n, col)") {
    val df = input.repartition(5, col("k")).groupBy("k").agg(sum("v").as("s"))
    val ex = exchanges(df)
    assert(ex.nonEmpty && !ex.exists(single), ex.map(_.outputPartitioning))
    assert(ex.exists(_.outputPartitioning.numPartitions == 5))
  }

  test("does not fire on a rand() projection") {
    val df = input.select(col("k"), rand(7).as("r")).groupBy("k").agg(sum("r").as("s")).orderBy("k")
    val ex = exchanges(df)
    assert(ex.nonEmpty && !ex.exists(single), ex.map(_.outputPartitioning))
    assert(ex.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
  }

  test("does not fire on an input above the advisory partition size") {
    val key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try {
      val df = input.groupBy("k").agg(sum("v").as("s")).orderBy("k")
      val ex = exchanges(df)
      assert(ex.nonEmpty && !ex.exists(single), ex.map(_.outputPartitioning))
      assert(ex.exists(_.outputPartitioning.isInstanceOf[RangePartitioning]))
      assert(df.as[(Long, Long)].collect().toSeq === expected)
    } finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
