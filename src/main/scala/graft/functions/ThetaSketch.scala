package graft.functions

import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Union}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable THETA sketches — distinct counting with SET OPERATIONS, the
  * capability plain HLL lacks: two segments' sketches can be INTERSECTED
  * (how many sources appeared in BOTH days?) or diffed, not just unioned.
  * ClickHouse exposes the same idea as `uniqThetaSketch` /
  * `uniqThetaIntersect`; the reference's unique-counting panels
  * (`/root/reference/compose/grafana/dashboards/viz-ch.json` uniq panels)
  * are the union-only form.
  *
  * Same split as [[HeavyHitters]] / [[QuantileSketch]]:
  *
  *  - [[ThetaSketchAgg]] (`theta_sketch(x, lgK)`) emits the SERIALIZED
  *    compact per-group sketch (binary, ≤ 16·2^lgK bytes — 64 KB at the
  *    default lgK=12 — regardless of stream length). Only blobs cross the
  *    exchange; partial aggregation merges sketches map-side.
  *  - [[ThetaSketchEstimate]] (`theta_estimate(sk)`) finalizes one blob to
  *    a BIGINT distinct estimate.
  *  - [[ThetaIntersectCount]] (`theta_intersect_count(a, b)`) is the
  *    SCALAR set operation: intersect two blobs, estimate the overlap.
  *
  * EXACT REGIME, loudly guarded: below 2^lgK distinct values a theta
  * sketch retains every hash (theta = 1), so estimates — including
  * intersections of exact sketches — are EXACT integers. With
  * `strict = true` (what oracle-checked registrations pass) the finalizers
  * THROW if a sketch arrives in estimation mode instead of silently
  * diffing approximate output against an exact oracle — the same
  * fail-loud contract as `flow_heavy_hitters`' regime check. Beyond the
  * exact regime (strict = false) estimates carry the published theta
  * relative-error bounds and remain mergeable/intersectable.
  */
case class ThetaSketchAgg(child: Expression, lgK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  require(lgK >= 4 && lgK <= 26, s"need 4 <= lgK <= 26, got $lgK")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | IntegerType | DoubleType | StringType | BinaryType =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"theta_sketch takes LONG/INT/DOUBLE/STRING/BINARY, got $t")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "theta_sketch"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()

  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null) child.dataType match {
      case LongType => buffer.update(v.asInstanceOf[Long])
      case IntegerType => buffer.update(v.asInstanceOf[Int].toLong)
      case DoubleType => buffer.update(v.asInstanceOf[Double])
      case StringType => buffer.update(v.asInstanceOf[UTF8String].toString)
      case BinaryType => buffer.update(v.asInstanceOf[Array[Byte]])
      case t => throw new IllegalStateException(s"unreachable input type $t")
    }
    buffer
  }
  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult); buffer
  }
  override def eval(buffer: Union): Any = buffer.getResult.toByteArray
  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Sketch.wrap(Memory.wrap(bytes)))
    u
  }

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaSketchAgg = copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchAgg =
    copy(inputAggBufferOffset = newOffset)
}

/** `theta_fold(sketch, lgK)` — fold SERIALIZED [[ThetaSketchAgg]] blobs
  * into one sketch (the read-time merge of an AggregatingMergeTree-style
  * MV). NULL inputs are skipped; the result is a compact sketch blob for
  * [[ThetaSketchEstimate]] / [[ThetaIntersectCount]] to finalize. */
case class ThetaSketchUnion(child: Expression, lgK: Int,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Union] {

  require(lgK >= 4 && lgK <= 26, s"need 4 <= lgK <= 26, got $lgK")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_fold needs a BINARY sketch column, got ${child.dataType}")
  override def nullable: Boolean = false
  override def dataType: DataType = BinaryType
  override def prettyName: String = "theta_fold"

  override def createAggregationBuffer(): Union =
    SetOperation.builder().setLogNominalEntries(lgK).buildUnion()
  override def update(buffer: Union, input: InternalRow): Union = {
    val v = child.eval(input)
    if (v != null)
      buffer.union(Sketch.wrap(Memory.wrap(v.asInstanceOf[Array[Byte]])))
    buffer
  }
  override def merge(buffer: Union, other: Union): Union = {
    buffer.union(other.getResult); buffer
  }
  override def eval(buffer: Union): Any = buffer.getResult.toByteArray
  override def serialize(buffer: Union): Array[Byte] = buffer.getResult.toByteArray
  override def deserialize(bytes: Array[Byte]): Union = {
    val u = createAggregationBuffer()
    u.union(Sketch.wrap(Memory.wrap(bytes)))
    u
  }

  override def children: Seq[Expression] = child :: Nil
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ThetaSketchUnion = copy(child = newChildren.head)
  override def withNewMutableAggBufferOffset(newOffset: Int): ThetaSketchUnion =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ThetaSketchUnion =
    copy(inputAggBufferOffset = newOffset)
}

private object ThetaSketchOps {
  def wrap(bytes: Array[Byte]): Sketch = Sketch.wrap(Memory.wrap(bytes))

  def checkExact(sk: Sketch, op: String, strict: Boolean): Unit =
    if (strict && sk.isEstimationMode)
      throw new IllegalStateException(
        s"$op(strict=true): sketch is in estimation mode (theta < 1, " +
          s"${sk.getRetainedEntries(true)} retained) — the estimate is approximate " +
          "here; an exact oracle is only valid below 2^lgK distinct values. " +
          "Raise lgK or pass strict=false.")
}

/** `theta_estimate(sketch)` — BIGINT distinct-count estimate of one
  * serialized theta sketch; exact (and guarded so with `strict`) below
  * 2^lgK distinct. */
case class ThetaSketchEstimate(child: Expression, strict: Boolean)
  extends UnaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_estimate needs a BINARY sketch column, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_estimate"

  override protected def nullSafeEval(input: Any): Any = {
    val sk = ThetaSketchOps.wrap(input.asInstanceOf[Array[Byte]])
    ThetaSketchOps.checkExact(sk, prettyName, strict)
    math.round(sk.getEstimate)
  }
  // CodegenFallback: runs once per GROUP blob (post-aggregation), never
  // per input row — interpretation cost is immaterial
  override protected def withNewChildInternal(newChild: Expression): ThetaSketchEstimate =
    copy(child = newChild)
}

/** `theta_intersect_count(a, b)` — BIGINT estimate of |A ∩ B| from two
  * serialized theta sketches; exact when both operands are exact-regime
  * (intersection of exact sketches is exact), guarded via `strict`. */
case class ThetaIntersectCount(left: Expression, right: Expression, strict: Boolean)
  extends BinaryExpression with CodegenFallback {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == BinaryType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"theta_intersect_count needs two BINARY sketches, got ${left.dataType}, ${right.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "theta_intersect_count"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val sa = ThetaSketchOps.wrap(a.asInstanceOf[Array[Byte]])
    val sb = ThetaSketchOps.wrap(b.asInstanceOf[Array[Byte]])
    ThetaSketchOps.checkExact(sa, prettyName, strict)
    ThetaSketchOps.checkExact(sb, prettyName, strict)
    val ix = SetOperation.builder().buildIntersection()
    ix.intersect(sa)
    ix.intersect(sb)
    math.round(ix.getResult.getEstimate)
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ThetaIntersectCount =
    copy(left = newLeft, right = newRight)
}

object ThetaSketch {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge

  /** Mergeable partial: `thetaSketch(col, lgK)` → binary compact sketch. */
  def thetaSketch(value: Column, lgK: Int = 12): Column =
    ColumnBridge.column(
      ThetaSketchAgg(ColumnBridge.expression(value), lgK).toAggregateExpression())

  /** Fold serialized sketch blobs into one (read-time MV merge). */
  def thetaFold(sketch: Column, lgK: Int = 12): Column =
    ColumnBridge.column(
      ThetaSketchUnion(ColumnBridge.expression(sketch), lgK).toAggregateExpression())

  /** Finalize one sketch to a BIGINT distinct estimate. */
  def thetaEstimate(sketch: Column, strict: Boolean = false): Column =
    ColumnBridge.column(
      ThetaSketchEstimate(ColumnBridge.expression(sketch), strict))

  /** |A ∩ B| of two sketches as BIGINT. */
  def thetaIntersectCount(a: Column, b: Column, strict: Boolean = false): Column =
    ColumnBridge.column(
      ThetaIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b), strict))
}
