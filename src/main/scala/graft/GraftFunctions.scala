package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
import org.apache.spark.sql.types.{BooleanType, Decimal, DoubleType, IntegerType}
import graft.functions.IpCodec

/** The graft scalar function family (SURVEY.md §2.4 F6–F11,F15).
  *
  * The four codecs on dashboard hot paths (address rendering, bin16
  * packing, LE reinterpret) are native Catalyst expressions with codegen
  * ([[graft.functions.IpExpressions]]) — the §4 promotion the survey
  * reserved for profiled hot spots. The rarely-hot inverse/parsing codecs
  * stay Scala UDFs; either form sits inside a whole-stage-codegen'd
  * projection, the native ones just skip the UDF encoder round-trip.
  */
object GraftFunctions {
  import graft.functions.{Ip4Ntoa, Ip4ToBin16, Ip6Ntoa, ReinterpretUint32}
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}

  private val ip4AtonUdf: UserDefinedFunction = udf((s: String) => IpCodec.ip4StringToNum(s))
  private val ip6AtonUdf: UserDefinedFunction = udf((s: String) => IpCodec.ip6StringToNum(s))
  private val ipStringUdf: UserDefinedFunction = udf((b: Array[Byte]) => IpCodec.ipString(b))

  /** IPv4 uint32 → dotted quad (ClickHouse IPv4NumToString). */
  def ip4_ntoa(c: Column): Column = column(Ip4Ntoa(expression(c)))
  /** dotted quad → IPv4 uint32 (ClickHouse IPv4StringToNum). */
  def ip4_aton(c: Column): Column = ip4AtonUdf(c)
  /** 16-byte binary → RFC 5952 IPv6 text (ClickHouse IPv6NumToString). */
  def ip6_ntoa(c: Column): Column = column(Ip6Ntoa(expression(c)))
  /** IPv6 text → 16-byte binary (ClickHouse IPv6StringToNum). */
  def ip6_aton(c: Column): Column = ip6AtonUdf(c)
  /** Go net.IP.String() semantics (inserter.go:131-134). */
  def ip_string(c: Column): Column = ipStringUdf(c)
  /** IPv4 uint32 → left-packed-LE 16-byte binary (README.md:186-202 convention). */
  def ip4_to_bin16(c: Column): Column = column(Ip4ToBin16(expression(c)))
  /** LE reinterpret of leading 4 bytes as uint32 (ClickHouse reinterpretAsUInt32). */
  def reinterpret_uint32(c: Column): Column = column(ReinterpretUint32(expression(c)))

  /** Every graft SQL function: name → builder from the call's argument
    * expressions. [[graft.plans.GraftExtensions]] injects each one into
    * every session it configures, so `spark.sql` resolves them as it does
    * Spark's built-ins. The size/accuracy knobs of the aggregates must be
    * literals: they size executor-side state, so a column-valued knob would
    * make the sketch unplannable. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    // the codec family: native expressions (codegen'd from SQL too), and
    // the three parsers as UDF expressions
    "ip4_ntoa" -> unary("ip4_ntoa")(Ip4Ntoa(_)),
    "ip6_ntoa" -> unary("ip6_ntoa")(Ip6Ntoa(_)),
    "ip4_to_bin16" -> unary("ip4_to_bin16")(Ip4ToBin16(_)),
    "reinterpret_uint32" -> unary("reinterpret_uint32")(ReinterpretUint32(_)),
    "ip4_aton" -> udfCall("ip4_aton", ip4AtonUdf),
    "ip6_aton" -> udfCall("ip6_aton", ip6AtonUdf),
    "ip_string" -> udfCall("ip_string", ipStringUdf),
    // the custom SpaceSaving aggregate: heavy_hitters(item, capacity, k)
    "heavy_hitters" -> { es =>
      usage(es, 3, "heavy_hitters(item, capacity, k)")
      graft.functions.HeavyHitters(es.head,
        intLit(es(1), "heavy_hitters", "capacity"), intLit(es(2), "heavy_hitters", "k"))
    },
    // the mergeable sketch family
    // heavy_hitters_sketch(item, capacity) -> binary SpaceSaving partial
    "heavy_hitters_sketch" -> { es =>
      usage(es, 2, "heavy_hitters_sketch(item, capacity)")
      graft.functions.HeavyHittersSketch(es.head,
        intLit(es(1), "heavy_hitters_sketch", "capacity")).toAggregateExpression()
    },
    // heavy_hitters_merge(sketch, capacity, k) -> array<struct<item,est,err>>
    "heavy_hitters_merge" -> { es =>
      usage(es, 3, "heavy_hitters_merge(sketch, capacity, k)")
      graft.functions.HeavyHittersMerge(es.head,
        intLit(es(1), "heavy_hitters_merge", "capacity"),
        intLit(es(2), "heavy_hitters_merge", "k")).toAggregateExpression()
    },
    // heavy_hitters_fold(sketch, capacity) -> binary (MV compaction)
    "heavy_hitters_fold" -> { es =>
      usage(es, 2, "heavy_hitters_fold(sketch, capacity)")
      graft.functions.HeavyHittersFold(es.head,
        intLit(es(1), "heavy_hitters_fold", "capacity")).toAggregateExpression()
    },
    // quantile_fold(sketch, k) -> binary (MV compaction)
    "quantile_fold" -> { es =>
      usage(es, 2, "quantile_fold(sketch, k)")
      graft.functions.QuantileSketchFold(es.head,
        intLit(es(1), "quantile_fold", "k")).toAggregateExpression()
    },
    // quantile_sketch(x, k) -> binary KLL partial
    "quantile_sketch" -> { es =>
      usage(es, 2, "quantile_sketch(x, k)")
      graft.functions.QuantileSketchAgg(es.head, intLit(es(1), "quantile_sketch", "k"))
        .toAggregateExpression()
    },
    // quantile_merge(sketch, k, p1[, p2, ...]) -> array<double>
    "quantile_merge" -> { es =>
      require(es.length >= 3, "usage: quantile_merge(sketch, k, p1[, p2, ...])")
      graft.functions.QuantileSketchMerge(es.head,
        intLit(es(1), "quantile_merge", "k"),
        es.drop(2).map(dblLit(_, "quantile_merge", "prob")))
        .toAggregateExpression()
    },
    // theta_sketch(x, lgK) -> binary compact theta sketch
    "theta_sketch" -> { es =>
      usage(es, 2, "theta_sketch(x, lgK)")
      graft.functions.ThetaSketchAgg(es.head, intLit(es(1), "theta_sketch", "lgK"))
        .toAggregateExpression()
    },
    // theta_fold(sketch, lgK) -> binary (read-time MV fold)
    "theta_fold" -> { es =>
      usage(es, 2, "theta_fold(sketch, lgK)")
      graft.functions.ThetaSketchUnion(es.head, intLit(es(1), "theta_fold", "lgK"))
        .toAggregateExpression()
    },
    // theta_estimate(sketch, strict) -> bigint
    "theta_estimate" -> { es =>
      usage(es, 2, "theta_estimate(sketch, strict)")
      graft.functions.ThetaSketchEstimate(es.head,
        boolLit(es(1), "theta_estimate", "strict"))
    },
    // theta_intersect_count(a, b, strict) -> bigint
    "theta_intersect_count" -> { es =>
      usage(es, 3, "theta_intersect_count(a, b, strict)")
      graft.functions.ThetaIntersectCount(es.head, es(1),
        boolLit(es(2), "theta_intersect_count", "strict"))
    },
    // the native long-vector kernel family (r13 HOF lesson), SQL-exposed
    // alongside its aggregates so ad-hoc SQL gets the codegen'd forms too
    "dot_longs" -> { es =>
      usage(es, 2, "dot_longs(a, b)")
      graft.functions.DotLongs(es(0), es(1))
    },
    "sum_sq_longs" -> unary("sum_sq_longs")(graft.functions.SumSqLongs(_)),
    "int8_codes" -> unary("int8_codes")(graft.functions.Int8Codes(_)),
    // the one-pass vector-moments family (no knobs: buffer shape derives
    // from the data's dimensionality)
    "vec_moments" -> unary("vec_moments")(graft.functions.VecMomentsAgg(_).toAggregateExpression()),
    "vec_sums" -> unary("vec_sums")(graft.functions.VecSumsAgg(_).toAggregateExpression()),
    "vec_gram" -> unary("vec_gram")(graft.functions.VecGramAgg(_).toAggregateExpression()))

  private def usage(es: Seq[Expression], arity: Int, form: String): Unit =
    require(es.length == arity, s"usage: $form")

  private def unary(name: String)(f: Expression => Expression): Seq[Expression] => Expression =
    es => { usage(es, 1, s"$name(x)"); f(es.head) }

  /** A Scala UDF as a SQL function, named so that an unaliased call's
    * output column reads `ip4_aton(addr)`, not `UDF(addr)`. */
  private def udfCall(name: String, f: UserDefinedFunction): Seq[Expression] => Expression = {
    val named = f.withName(name)
    unary(name)(e => expression(named(column(e))))
  }

  private def intLit(e: Expression, fn: String, name: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be an INT literal, got $other")
  }

  private def boolLit(e: Expression, fn: String, name: String): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a BOOLEAN literal, got $other")
  }

  private def dblLit(e: Expression, fn: String, name: String): Double = e match {
    case Literal(v: Double, DoubleType) => v
    case Literal(v: Int, IntegerType) => v.toDouble
    // SQL fractional literals (0.5) parse as exact decimals
    case Literal(v: Decimal, _) => v.toDouble
    case other => throw new IllegalArgumentException(
      s"$fn: $name must be a numeric literal, got $other")
  }
}
