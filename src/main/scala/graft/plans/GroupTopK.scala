package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BoundReference, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.graftbridge.ColumnBridge

/** Whole-operator custom plan: top-k rows per group by a numeric ordering
  * expression — the dashboards' top-N-talkers shape
  * (`/root/reference/compose/grafana/dashboards/viz-ch.json:233`) as a
  * first-class physical operator.
  *
  * Built-in Spark expresses this as window `row_number` + filter, which
  * sorts EVERY row of every group and shuffles the full input. This
  * operator keeps a bounded heap of k rows per group:
  *
  *   partial GroupTopKExec (map-side, each partition → ≤k rows per group)
  *     → hash exchange on the grouping key (≤ k·partitions rows per group)
  *       → final GroupTopKExec (exact top-k per group)
  *
  * — the same partial/final contract as Catalyst aggregation, so shuffle
  * volume is k·partitions per group instead of the group's row count. At
  * 100 TB with k=10 that is the difference between shuffling ~everything
  * and shuffling ~nothing. Correct for any orderable type; ties at the
  * boundary keep an arbitrary row but a deterministic VALUE multiset
  * (`min-heap` replacement only on strict improvement).
  *
  * Wiring: [[GroupTopKStrategy]] plans the logical node; [[GraftExtensions]]
  * injects it into every session built by [[graft.GraftSession]].
  * [[GroupTopK.topK]] is the DataFrame-level API.
  */
final case class GroupTopKNode(grouping: Seq[Expression], order: Expression,
    k: Int, child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): GroupTopKNode =
    copy(child = newChild)
}

final case class GroupTopKExec(grouping: Seq[Expression], order: Expression,
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else if (grouping.isEmpty) Seq(AllTuples) // global top-k: one reducer
    else Seq(ClusteredDistribution(grouping))

  override protected def withNewChildInternal(newChild: SparkPlan): GroupTopKExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val groupingExprs = grouping
    val orderExpr = order
    val childOutput = child.output
    val kk = k
    // memory valve: the map-side operator flushes its heaps downstream
    // once it holds this many groups (correct under the partial/final
    // contract — the final pass re-merges), so a high-cardinality
    // grouping degrades toward shuffle volume instead of OOM. The final
    // operator cannot flush (it must emit exactly one k-set per group);
    // its state is groups-per-reducer × (k+1) rows — the same bound a
    // final hash aggregate carries.
    val maxGroups = if (partial) GroupTopKExec.PartialFlushGroups else Int.MaxValue
    child.execute().mapPartitions({ iter =>
      val groupProj = UnsafeProjection.create(groupingExprs, childOutput)
      // the ordering expression evaluates through a GENERATED unsafe
      // projection (same codegen Catalyst aggregation uses for its keys),
      // not interpreted eval — per-row cost is a generated-code call +
      // primitive field read, so this operator is no longer the one
      // interpreted island in an otherwise codegen'd plan
      val orderProj = UnsafeProjection.create(Seq(orderExpr), childOutput)
      GroupTopKExec.longKeyOf(orderExpr.dataType) match {
        case Some(toKey) =>
          // primitive path (the dashboards' sum(bytes)/count orderings):
          // parallel long[] / row[] min-heaps, zero boxing per row.
          // Nullness rides out-of-band (a parallel flag in the heap), below
          // every real key — matching row_number's DESC NULLS LAST: null
          // rows fill out a group only when fewer than k real values exist
          // (the pre-r7 operator dropped them entirely), and a REAL
          // Long.MinValue value still outranks a null (the r7 advisory:
          // encoding null AS MinValue made the two indistinguishable).
          val heaps = new java.util.HashMap[UnsafeRow, GroupTopKExec.LongKeyHeap]()
          import scala.jdk.CollectionConverters._
          new GroupTopKExec.FlushingIterator(iter,
            add = { row =>
              val or = orderProj(row)
              val isNull = or.isNullAt(0)
              val key = if (isNull) Long.MinValue else toKey(or)
              val g = groupProj(row)
              var heap = heaps.get(g)
              if (heap == null) {
                heap = new GroupTopKExec.LongKeyHeap(kk)
                heaps.put(g.copy(), heap)
              }
              if (heap.size < kk) heap.insert(key, isNull, row.copy())
              else if (heap.beatsMin(key, isNull)) heap.replaceMin(key, isNull, row.copy())
            },
            groups = () => heaps.size(),
            drain = () => {
              val out = heaps.values.asScala.toList
              heaps.clear()
              out.iterator.flatMap(_.rowIterator)
            },
            maxGroups)
        case None =>
          // generic path: any orderable type — the order value is kept as a
          // copied one-column UnsafeRow and compared with a GENERATED
          // ordering (GenerateOrdering), matching SortExec's comparator
          // codegen instead of the interpreted ordering. nullable = true:
          // ascending null ordering puts null FIRST (weakest), the DESC
          // NULLS LAST twin of the window formulation.
          val rowOrd = GenerateOrdering.generate(Seq(SortOrder(
            BoundReference(0, orderExpr.dataType, nullable = true), Ascending)))
          val cmp = new java.util.Comparator[(UnsafeRow, InternalRow)] {
            override def compare(a: (UnsafeRow, InternalRow), b: (UnsafeRow, InternalRow)): Int =
              rowOrd.compare(a._1, b._1)
          }
          val heaps = new java.util.HashMap[UnsafeRow, java.util.PriorityQueue[(UnsafeRow, InternalRow)]]()
          import scala.jdk.CollectionConverters._
          new GroupTopKExec.FlushingIterator(iter,
            add = { row =>
              val or = orderProj(row)
              val key = groupProj(row)
              var heap = heaps.get(key)
              if (heap == null) {
                heap = new java.util.PriorityQueue[(UnsafeRow, InternalRow)](kk + 1, cmp)
                heaps.put(key.copy(), heap)
              }
              // copy on retention: the projection reuses its buffer — a
              // retained key would mutate as iteration advances
              if (heap.size < kk) heap.add((or.copy(), row.copy()))
              else if (rowOrd.compare(or, heap.peek()._1) > 0) {
                heap.poll()
                heap.add((or.copy(), row.copy()))
              }
            },
            groups = () => heaps.size(),
            drain = () => {
              val out = heaps.values.asScala.toList
              heaps.clear()
              out.iterator.flatMap(_.iterator().asScala.map(_._2))
            },
            maxGroups)
      }
    }, preservesPartitioning = true)
  }
}

object GroupTopKExec {
  import org.apache.spark.sql.types._

  /** Map-side flush threshold (groups held before emitting partial heaps
    * downstream). 2^17 groups × (k+1) rows bounds the map at a few hundred
    * MB for dashboard-sized rows. A def reading a system property so specs
    * can drive the flush path with a tiny threshold. */
  private[plans] def PartialFlushGroups: Int =
    Integer.getInteger("graft.topk.partialFlushGroups", 1 << 17)

  /** Drives input through `add` until the group map reaches `maxGroups`
    * (or input ends), then streams `drain()`'s rows out before resuming —
    * the operator's memory stays bounded by maxGroups × (k+1) rows while
    * the output remains a correct partial result (the final pass
    * re-merges duplicate groups across flushes). */
  private[plans] final class FlushingIterator(input: Iterator[InternalRow],
      add: InternalRow => Unit, groups: () => Int,
      drain: () => Iterator[InternalRow], maxGroups: Int)
      extends Iterator[InternalRow] {
    private var out: Iterator[InternalRow] = Iterator.empty
    private var exhausted = false
    private def advance(): Unit =
      while (!out.hasNext && !exhausted) {
        while (input.hasNext && groups() < maxGroups) add(input.next())
        if (!input.hasNext) exhausted = true
        out = drain()
      }
    override def hasNext: Boolean = { advance(); out.hasNext }
    override def next(): InternalRow = { advance(); out.next() }
  }

  /** Monotone UnsafeRow→Long key extractor (field 0 of the generated
    * order projection) for types whose ordering embeds in long comparison.
    * Floating point goes through the IEEE-754 bit trick
    * (`bits ^ ((bits >> 63) | Long.MinValue)`), which reproduces
    * `java.lang.Double.compare` exactly: -0.0 < 0.0 and NaN (canonical
    * bits) above every finite value — the same total order Spark's
    * orderings use. Other types (strings, decimals, structs) return None
    * and take the generated-ordering path. */
  private[plans] def longKeyOf(dt: DataType): Option[UnsafeRow => Long] = dt match {
    case LongType | TimestampType | TimestampNTZType => Some(r => r.getLong(0))
    case IntegerType | DateType => Some(r => r.getInt(0).toLong)
    case ShortType => Some(r => r.getShort(0).toLong)
    case ByteType => Some(r => r.getByte(0).toLong)
    case DoubleType => Some(r => sortableBits(r.getDouble(0)))
    case FloatType => Some(r => sortableBits(r.getFloat(0).toDouble))
    case _ => None
  }

  private def sortableBits(d: Double): Long = {
    val bits = java.lang.Double.doubleToLongBits(d)
    // negative: invert the 63 magnitude bits (sign stays set, so negatives
    // order below positives and more-negative orders lower); positive /
    // NaN: unchanged. Reproduces java.lang.Double.compare as signed-long
    // comparison.
    bits ^ ((bits >> 63) & 0x7FFFFFFFFFFFFFFFL)
  }

  /** Bounded min-heap over primitive long keys with rows carried in a
    * parallel array — head is the weakest kept row. Nullness is a parallel
    * flag ordered strictly below every real key (two nulls compare equal),
    * so a genuine Long.MinValue value outranks a null row instead of tying
    * with it (row_number DESC NULLS LAST parity, r7 advisory). */
  private[plans] final class LongKeyHeap(k: Int) {
    private val keys = new Array[Long](k)
    private val nullAt = new Array[Boolean](k)
    private val rows = new Array[InternalRow](k)
    private var n = 0
    def size: Int = n
    /** (keyA,nullA) < (keyB,nullB): null below everything, nulls tie. */
    private def lt(ka: Long, na: Boolean, kb: Long, nb: Boolean): Boolean =
      if (na != nb) na else !na && ka < kb
    /** True iff the candidate strictly beats the weakest kept row. */
    def beatsMin(key: Long, isNull: Boolean): Boolean =
      lt(keys(0), nullAt(0), key, isNull)
    def insert(key: Long, isNull: Boolean, row: InternalRow): Unit = {
      var i = n
      keys(i) = key; nullAt(i) = isNull; rows(i) = row; n += 1
      while (i > 0) {
        val p = (i - 1) >> 1
        if (!lt(keys(i), nullAt(i), keys(p), nullAt(p))) return
        swap(i, p); i = p
      }
    }
    def replaceMin(key: Long, isNull: Boolean, row: InternalRow): Unit = {
      keys(0) = key; nullAt(0) = isNull; rows(0) = row
      var i = 0
      while (true) {
        val l = 2 * i + 1
        val r = l + 1
        var m = i
        if (l < n && lt(keys(l), nullAt(l), keys(m), nullAt(m))) m = l
        if (r < n && lt(keys(r), nullAt(r), keys(m), nullAt(m))) m = r
        if (m == i) return
        swap(i, m); i = m
      }
    }
    private def swap(a: Int, b: Int): Unit = {
      val tk = keys(a); keys(a) = keys(b); keys(b) = tk
      val tn = nullAt(a); nullAt(a) = nullAt(b); nullAt(b) = tn
      val tr = rows(a); rows(a) = rows(b); rows(b) = tr
    }
    def rowIterator: Iterator[InternalRow] = rows.iterator.take(n)
  }
}

/** Plans [[GroupTopKNode]] as partial → (exchange) → final exec. */
object GroupTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case g: GroupTopKNode =>
      GroupTopKExec(g.grouping, g.order, g.k, partial = false,
        GroupTopKExec(g.grouping, g.order, g.k, partial = true, planLater(g.child))) :: Nil
    case _ => Nil
  }
}

object GroupTopK {
  /** Top-k rows of `df` per `groupCols` group, largest `orderCol` first.
    * Plans only in a session built with [[GraftExtensions]], which
    * injects [[GroupTopKStrategy]]. */
  def topK(df: DataFrame, groupCols: Seq[Column], orderCol: Column, k: Int): DataFrame = {
    val spark: SparkSession = df.sparkSession
    ColumnBridge.ofRows(spark, GroupTopKNode(
      groupCols.map(ColumnBridge.expression),
      ColumnBridge.expression(orderCol), k,
      ColumnBridge.logicalPlan(df)))
  }
}
