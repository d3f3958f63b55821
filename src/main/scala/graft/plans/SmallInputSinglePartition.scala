package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{QueryStageExec, TableCacheQueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, Exchange, ShuffleExchangeExec, ValidateRequirements}
import org.apache.spark.sql.internal.SQLConf

/** Query-stage preparation rule (AQE): a query over ONE small input runs
  * its shuffles as single-partition exchanges.
  *
  * A dashboard panel aggregates a few tens of thousands of rows, yet the
  * default plan hash-exchanges into `spark.sql.shuffle.partitions`
  * reducers that AQE then coalesces to one, and an `ORDER BY` adds a
  * range exchange whose bounds cost a sampling job. Each job is ~50 ms of
  * scheduling on a result that one task computes in a few milliseconds.
  * When the whole input fits one advisory partition
  * (`spark.sql.adaptive.advisoryPartitionSizeInBytes`, the size AQE
  * coalesces towards anyway), this rule plans every exchange as
  * `SinglePartition` and drops an exchange whose child already has one
  * partition — so an aggregate + `ORDER BY` is one shuffle and no range
  * sampling.
  *
  * It fires only when all of these hold, and otherwise leaves the plan
  * untouched:
  *  - the plan has exactly one leaf, and it is a non-bucketed file scan,
  *    a local or cached relation, or a single-partition query stage (the
  *    form this rule's own exchanges take when AQE re-plans), of at most
  *    the advisory size — joins and unions have more leaves;
  *  - every expression is deterministic (partitioning feeds `rand()` and
  *    partition-id seeds);
  *  - every exchange was added to meet an operator's requirement
  *    (`ENSURE_REQUIREMENTS`), so a user's `repartition(n, …)` and the
  *    compaction rewrites keep their layout.
  * The rewritten plan must pass Spark's `ValidateRequirements`; if it does
  * not, the original plan is kept.
  */
object SmallInputSinglePartition extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    if (!applies(plan)) plan
    else {
      val single = plan.transformUp {
        case e: ShuffleExchangeExec if e.child.outputPartitioning.numPartitions == 1 => e.child
        case e: ShuffleExchangeExec => e.copy(outputPartitioning = SinglePartition)
      }
      if (ValidateRequirements.validate(single)) single else plan
    }

  private def applies(plan: SparkPlan): Boolean = {
    val exchanges = plan.collect { case e: Exchange => e }
    exchanges.nonEmpty &&
      exchanges.forall {
        case s: ShuffleExchangeExec => s.shuffleOrigin == ENSURE_REQUIREMENTS
        case _ => false
      } &&
      (plan.collectLeaves() match {
        case Seq(leaf) => inputBytes(leaf).exists(_ <= conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
        case _ => false
      }) &&
      !plan.exists(_.expressions.exists(!_.deterministic))
  }

  /** Size of a leaf this rule knows how to judge; None for any other. */
  private def inputBytes(leaf: SparkPlan): Option[BigInt] = leaf match {
    case s: FileSourceScanExec if !s.bucketedScan => Some(BigInt(s.relation.location.sizeInBytes))
    case l: LocalTableScanExec => Some(EstimationUtils.getSizePerRow(l.output) * l.rows.size)
    case c: InMemoryTableScanExec => Some(c.relation.computeStats().sizeInBytes)
    case c: TableCacheQueryStageExec => Some(c.getRuntimeStatistics.sizeInBytes)
    case q: QueryStageExec if q.outputPartitioning.numPartitions == 1 =>
      Some(q.getRuntimeStatistics.sizeInBytes)
    case _ => None
  }
}
