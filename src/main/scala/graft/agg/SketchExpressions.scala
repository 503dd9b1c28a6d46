package graft.agg

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch.{CountMinSketch, Hash128}

/**
 * Native scalar Catalyst expressions over serialized sketches — the SQL
 * probe surface that pairs with [[SketchAgg]] (the build surface).
 *
 * Versus the `functions.udf` probes in [[SketchFunctions]] (which stay the
 * Scala-API default): no encoder round-trip — the key is hashed straight
 * from its `UTF8String` bytes (zero-copy, the same double-hash halves the
 * native aggregate uses, parity pinned in HashingSpec) and mistyped SQL
 * fails at analysis rather than execution. Decoding is amortized by the
 * same thread-local memo as the UDF path, so repeated probes of one
 * broadcast sketch deserialize once per thread, not once per row.
 *
 * CodegenFallback is deliberate: the eval is one memo lookup + two XXH64
 * calls + a d-step min-loop; fallback costs one virtual call per row and
 * keeps the expression version-portable (no generated-source maintenance).
 */
/** The ONE definition of the zero-copy UTF8String double-hash (seed
  * derivation `seed ^ Seed1/Seed2` must stay bit-identical to
  * `Hash128.ofString` — parity pinned in HashingSpec). Shared by the
  * sketch build aggregate and the scalar probe expressions so the
  * arithmetic can never drift between copies. */
private[agg] object Utf8Hash {
  @inline def h1(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
      utf8.numBytes, seed ^ Hash128.Seed1)
  @inline def h2(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset,
      utf8.numBytes, seed ^ Hash128.Seed2)
  @inline def of(utf8: UTF8String, seed: Long): Hash128 = Hash128(h1(utf8, seed), h2(utf8, seed))
  /** The single unsalted hash, == `XxHash64.hashString` (HyperLogLog's). */
  @inline def h(utf8: UTF8String, seed: Long): Long =
    XXH64.hashUnsafeBytes(utf8.getBaseObject, utf8.getBaseOffset, utf8.numBytes, seed)
}

case class CmQuerySketch(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "cm_query_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType && right.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cm_query_sketch expects (BINARY sketch, STRING key), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(sk: Any, key: Any): Any = {
    val cm = SketchFunctions.decodeCmMemoized(sk.asInstanceOf[Array[Byte]])
    val utf8 = key.asInstanceOf[UTF8String]
    cm.queryRaw(Utf8Hash.h1(utf8, cm.seed), Utf8Hash.h2(utf8, cm.seed))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CmQuerySketch =
    copy(left = newLeft, right = newRight)
}

/** HLL cardinality estimate from a serialized HLL sketch. */
case class HllCountSketch(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "hll_count_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"hll_count_sketch expects BINARY, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(sk: Any): Any =
    SketchFunctions.decodeHllMemoized(sk.asInstanceOf[Array[Byte]]).estimateLong()

  override protected def withNewChildInternal(newChild: Expression): HllCountSketch =
    copy(child = newChild)
}

/** KLL quantile probe: kll_quantile_sketch(sketch, q) → DOUBLE. */
case class KllQuantileSketch(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "kll_quantile_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    // any numeric q: the natural SQL literal 0.5 parses as DECIMAL(1,1),
    // and rejecting it would force users to spell cast(0.5 AS double)
    if (left.dataType == BinaryType &&
        right.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"kll_quantile_sketch expects (BINARY sketch, numeric q), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(sk: Any, q: Any): Any = {
    val qd = q match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
    }
    SketchFunctions.decodeKllMemoized(sk.asInstanceOf[Array[Byte]]).quantile(qd)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): KllQuantileSketch =
    copy(left = newLeft, right = newRight)
}

/** Heavy-hitter listing from a serialized TopK sketch:
  * topk_entries_sketch(sketch, k) → array<struct<key string, est bigint>>
  * in deterministic (est desc, key asc) order — the SQL twin of the Scala
  * API's `topk_entries`, paired with the `cm_topk` build. */
case class TopKEntriesSketch(left: Expression, right: Expression)
  extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("est", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "topk_entries_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == BinaryType &&
        (right.dataType match {
          case LongType | org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.ByteType => true
          case _ => false
        }))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"topk_entries_sketch expects (BINARY sketch, integral k), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")

  override protected def nullSafeEval(sk: Any, k: Any): Any = {
    val entries = SketchFunctions.decodeTopKMemoized(sk.asInstanceOf[Array[Byte]])
      .topK(k.asInstanceOf[Number].intValue)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      entries.map { case (key, est) =>
        org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(key), est)
      })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): TopKEntriesSketch =
    copy(left = newLeft, right = newRight)
}

/** Total stream weight N recorded in a serialized CM sketch (ε·N bounds). */
case class CmTotalSketch(child: Expression)
  extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "cm_total_sketch"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cm_total_sketch expects BINARY, got ${child.dataType.catalogString}")

  override protected def nullSafeEval(sk: Any): Any =
    SketchFunctions.decodeCmMemoized(sk.asInstanceOf[Array[Byte]]).totalWeight

  override protected def withNewChildInternal(newChild: Expression): CmTotalSketch =
    copy(child = newChild)
}
