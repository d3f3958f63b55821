package graft

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf
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

  /** Register the family for SQL (`spark.sql("select ip4_ntoa(...)")`).
    * The native-expression four go into the session function registry as
    * expression builders (still codegen'd from SQL); the parsers register
    * as UDFs. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("ip4_ntoa", es => Ip4Ntoa(es.head), "built-in")
    reg.createOrReplaceTempFunction("ip6_ntoa", es => Ip6Ntoa(es.head), "built-in")
    reg.createOrReplaceTempFunction("ip4_to_bin16", es => Ip4ToBin16(es.head), "built-in")
    reg.createOrReplaceTempFunction("reinterpret_uint32", es => ReinterpretUint32(es.head), "built-in")
    spark.udf.register("ip4_aton", ip4AtonUdf)
    spark.udf.register("ip6_aton", ip6AtonUdf)
    spark.udf.register("ip_string", ipStringUdf)
    // the custom SpaceSaving aggregate, SQL form:
    // heavy_hitters(item, capacity, k) — capacity/k must be int literals
    // (they size executor-side state; a column-valued capacity would make
    // the sketch unplannable)
    reg.createOrReplaceTempFunction("heavy_hitters", es => {
      import org.apache.spark.sql.catalyst.expressions.Literal
      import org.apache.spark.sql.types.IntegerType
      require(es.length == 3, "usage: heavy_hitters(item, capacity, k)")
      def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
          name: String): Int = e match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"heavy_hitters: $name must be an INT literal, got $other")
      }
      graft.functions.HeavyHitters(es.head,
        intLit(es(1), "capacity"), intLit(es(2), "k"))
    }, "built-in")
    // the mergeable sketch family, SQL forms. Size/accuracy knobs must be
    // literals for the same plannability reason as heavy_hitters.
    registerSketchFamily(reg)
    // the one-pass vector-moments family (no knobs: buffer shape derives
    // from the data's dimensionality)
    // the native long-vector kernel family (r13 HOF lesson), SQL-exposed
    // alongside its aggregates so ad-hoc SQL gets the codegen'd forms too
    reg.createOrReplaceTempFunction("dot_longs", es => {
      require(es.length == 2, "usage: dot_longs(a, b)")
      graft.functions.DotLongs(es(0), es(1))
    }, "built-in")
    reg.createOrReplaceTempFunction("sum_sq_longs", es => {
      require(es.length == 1, "usage: sum_sq_longs(codes)")
      graft.functions.SumSqLongs(es.head)
    }, "built-in")
    reg.createOrReplaceTempFunction("int8_codes", es => {
      require(es.length == 1, "usage: int8_codes(vec)")
      graft.functions.Int8Codes(es.head)
    }, "built-in")
    reg.createOrReplaceTempFunction("vec_moments", es => {
      require(es.length == 1, "usage: vec_moments(codes)")
      graft.functions.VecMomentsAgg(es.head).toAggregateExpression()
    }, "built-in")
    reg.createOrReplaceTempFunction("vec_sums", es => {
      require(es.length == 1, "usage: vec_sums(codes)")
      graft.functions.VecSumsAgg(es.head).toAggregateExpression()
    }, "built-in")
    reg.createOrReplaceTempFunction("vec_gram", es => {
      require(es.length == 1, "usage: vec_gram(codes)")
      graft.functions.VecGramAgg(es.head).toAggregateExpression()
    }, "built-in")
  }

  private def registerSketchFamily(
      reg: org.apache.spark.sql.catalyst.analysis.FunctionRegistry): Unit = {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
    import org.apache.spark.sql.types.{BooleanType, DoubleType, IntegerType}
    def intLit(e: Expression, fn: String, name: String): Int = e match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be an INT literal, got $other")
    }
    def boolLit(e: Expression, fn: String, name: String): Boolean = e match {
      case Literal(v: Boolean, BooleanType) => v
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a BOOLEAN literal, got $other")
    }
    def dblLit(e: Expression, fn: String, name: String): Double = e match {
      case Literal(v: Double, DoubleType) => v
      case Literal(v: Int, IntegerType) => v.toDouble
      // SQL fractional literals (0.5) parse as exact decimals
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => v.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a numeric literal, got $other")
    }
    // heavy_hitters_sketch(item, capacity) -> binary SpaceSaving partial
    reg.createOrReplaceTempFunction("heavy_hitters_sketch", es => {
      require(es.length == 2, "usage: heavy_hitters_sketch(item, capacity)")
      graft.functions.HeavyHittersSketch(es.head,
        intLit(es(1), "heavy_hitters_sketch", "capacity")).toAggregateExpression()
    }, "built-in")
    // heavy_hitters_merge(sketch, capacity, k) -> array<struct<item,est,err>>
    reg.createOrReplaceTempFunction("heavy_hitters_merge", es => {
      require(es.length == 3, "usage: heavy_hitters_merge(sketch, capacity, k)")
      graft.functions.HeavyHittersMerge(es.head,
        intLit(es(1), "heavy_hitters_merge", "capacity"),
        intLit(es(2), "heavy_hitters_merge", "k")).toAggregateExpression()
    }, "built-in")
    // heavy_hitters_fold(sketch, capacity) -> binary (MV compaction)
    reg.createOrReplaceTempFunction("heavy_hitters_fold", es => {
      require(es.length == 2, "usage: heavy_hitters_fold(sketch, capacity)")
      graft.functions.HeavyHittersFold(es.head,
        intLit(es(1), "heavy_hitters_fold", "capacity")).toAggregateExpression()
    }, "built-in")
    // quantile_fold(sketch, k) -> binary (MV compaction)
    reg.createOrReplaceTempFunction("quantile_fold", es => {
      require(es.length == 2, "usage: quantile_fold(sketch, k)")
      graft.functions.QuantileSketchFold(es.head,
        intLit(es(1), "quantile_fold", "k")).toAggregateExpression()
    }, "built-in")
    // quantile_sketch(x, k) -> binary KLL partial
    reg.createOrReplaceTempFunction("quantile_sketch", es => {
      require(es.length == 2, "usage: quantile_sketch(x, k)")
      graft.functions.QuantileSketchAgg(es.head, intLit(es(1), "quantile_sketch", "k"))
        .toAggregateExpression()
    }, "built-in")
    // quantile_merge(sketch, k, p1[, p2, ...]) -> array<double>
    reg.createOrReplaceTempFunction("quantile_merge", es => {
      require(es.length >= 3, "usage: quantile_merge(sketch, k, p1[, p2, ...])")
      graft.functions.QuantileSketchMerge(es.head,
        intLit(es(1), "quantile_merge", "k"),
        es.drop(2).map(dblLit(_, "quantile_merge", "prob")))
        .toAggregateExpression()
    }, "built-in")
    // theta_sketch(x, lgK) -> binary compact theta sketch
    reg.createOrReplaceTempFunction("theta_sketch", es => {
      require(es.length == 2, "usage: theta_sketch(x, lgK)")
      graft.functions.ThetaSketchAgg(es.head, intLit(es(1), "theta_sketch", "lgK"))
        .toAggregateExpression()
    }, "built-in")
    // theta_fold(sketch, lgK) -> binary (read-time MV fold)
    reg.createOrReplaceTempFunction("theta_fold", es => {
      require(es.length == 2, "usage: theta_fold(sketch, lgK)")
      graft.functions.ThetaSketchUnion(es.head, intLit(es(1), "theta_fold", "lgK"))
        .toAggregateExpression()
    }, "built-in")
    // theta_estimate(sketch, strict) -> bigint
    reg.createOrReplaceTempFunction("theta_estimate", es => {
      require(es.length == 2, "usage: theta_estimate(sketch, strict)")
      graft.functions.ThetaSketchEstimate(es.head,
        boolLit(es(1), "theta_estimate", "strict"))
    }, "built-in")
    // theta_intersect_count(a, b, strict) -> bigint
    reg.createOrReplaceTempFunction("theta_intersect_count", es => {
      require(es.length == 3, "usage: theta_intersect_count(a, b, strict)")
      graft.functions.ThetaIntersectCount(es.head, es(1),
        boolLit(es(2), "theta_intersect_count", "strict"))
    }, "built-in")
  }
}
