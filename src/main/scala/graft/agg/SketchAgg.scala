package graft.agg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch._

/**
 * The one sketch build aggregate: a Catalyst `TypedImperativeAggregate`
 * driven by a small per-kind [[SketchSpec]].
 *
 * Catalyst runs it as ObjectHashAggregate with partial aggregation: `update`
 * folds rows into a partition-local kernel object (the reference's
 * single-threaded update loop, Simulator/Program.cs:439-474), only the
 * O(sketch) partial buffers cross the shuffle, serialized through the
 * kernel's own [[SketchIO]] layout, and `merge` folds them. Keys are read as
 * `UTF8String` straight off the InternalRow and hashed in place where the
 * kernel has a raw-hash entry: no encoder round-trip, no String decode, no
 * boxing beyond Catalyst's own.
 *
 * Null inputs are skipped (SQL-aggregate convention); a null weight counts
 * as 1. `name` is the SQL or Column-API name the aggregate was called by,
 * used in column names and analysis errors.
 */
case class SketchAgg[S <: AnyRef](
    name: String,
    spec: SketchSpec[S],
    children: Seq[Expression],
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[S] {

  @transient private lazy val first = children.head
  @transient private lazy val second = if (children.length > 1) children(1) else null

  override def checkInputDataTypes(): TypeCheckResult = {
    val types = children.map(_.dataType)
    val accepts = spec.input.accepts
    if (types.length == accepts.length && types.zip(accepts).forall { case (t, ok) => ok(t) })
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$name expects (${spec.input.usage}), got " +
      types.map(_.catalogString).mkString("(", ", ", ")"))
  }

  override def createAggregationBuffer(): S = spec.create()

  override def update(buffer: S, input: InternalRow): S = {
    val v = first.eval(input)
    if (v == null) buffer
    else spec.update(buffer, v, if (second == null) null else second.eval(input))
  }

  override def merge(buffer: S, other: S): S = spec.merge(buffer, other)
  override def eval(buffer: S): Any = spec.result(buffer)
  override def serialize(buffer: S): Array[Byte] = spec.serialize(buffer)
  override def deserialize(bytes: Array[Byte]): S = spec.deserialize(bytes)

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = spec.input == SketchInput.Sketch
  override def prettyName: String = name

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg[S] =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg[S] =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SketchAgg[S] =
    copy(children = newChildren)
}

object SketchAgg {
  /** Register `name` over a spec whose parameters are fixed from Scala: the
    * SQL call takes the inputs only. */
  def registerFixed(spark: SparkSession, name: String, spec: SketchSpec[_ <: AnyRef]): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, exprs => {
      require(exprs.length == spec.input.accepts.length,
        s"$name(${spec.input.usage}): expected ${spec.input.accepts.length} " +
          s"argument(s), got ${exprs.length} (parameters are fixed by this registration)")
      SketchAgg(name, spec, exprs)
    }, "built-in")
}

/** What a sketch aggregate reads per row, with its analysis-time check. */
sealed abstract class SketchInput(val usage: String, val accepts: Seq[DataType => Boolean])

object SketchInput {
  private val integral: DataType => Boolean = {
    case LongType | IntegerType | ShortType | ByteType => true
    case _ => false
  }
  case object KeyWeight
    extends SketchInput("STRING key, integral weight", Seq(_ == StringType, integral))
  case object Key extends SketchInput("STRING key", Seq(_ == StringType))
  case object Value extends SketchInput("numeric value", Seq(_.isInstanceOf[NumericType]))
  case object Sketch extends SketchInput("BINARY sketch", Seq(_ == BinaryType))
}

/**
 * One sketch kind as seen by [[SketchAgg]]. `update` receives the first
 * input (never null) and the second (the weight, possibly null, or null when
 * the kind has one input). Each spec implements `update` itself, so a row
 * costs one virtual call into the kernel. Specs are case classes over the
 * kernel parameters, so plans print and compare them by value.
 */
abstract class SketchSpec[S <: AnyRef] extends Serializable {
  def input: SketchInput
  def create(): S
  def update(s: S, v: Any, w: Any): S
  def merge(a: S, b: S): S
  def serialize(s: S): Array[Byte]
  def deserialize(bytes: Array[Byte]): S
  def result(s: S): Any = serialize(s)
}

/** A spec over one kernel: merge and the wire format are the kernel's own. */
abstract class KernelSpec[S <: Mergeable[S]](
    val input: SketchInput, decode: Array[Byte] => S) extends SketchSpec[S] {
  final def merge(a: S, b: S): S = a.merge(b)
  final def serialize(s: S): Array[Byte] = s.serialize()
  final def deserialize(bytes: Array[Byte]): S = decode(bytes)
}

object KernelSpec {
  @inline def weight(w: Any): Long = if (w == null) 1L else w.asInstanceOf[Number].longValue
  @inline def key(v: Any): UTF8String = v.asInstanceOf[UTF8String]
  def value(v: Any): Double = v match {
    case d: java.lang.Double => d
    case d: Decimal => d.toDouble
    case n: Number => n.doubleValue
  }
}

import KernelSpec.{key, value, weight}
import SketchInput._

final case class CmSpec(eps: Double, delta: Double, seed: Long)
    extends KernelSpec[CountMinSketch](KeyWeight, CountMinSketch.deserialize) {
  def create(): CountMinSketch = CountMinSketch.fromErrorBounds(eps, delta, seed)
  def update(s: CountMinSketch, v: Any, w: Any): CountMinSketch = {
    s.updateRaw(Utf8Hash.h1(key(v), seed), Utf8Hash.h2(key(v), seed), weight(w)); s
  }
}

final case class CsSpec(depth: Int, width: Int, seed: Long)
    extends KernelSpec[CountSketch](KeyWeight, CountSketch.deserialize) {
  def create(): CountSketch = CountSketch(depth, width, seed)
  def update(s: CountSketch, v: Any, w: Any): CountSketch = {
    s.update(Utf8Hash.of(key(v), seed), weight(w)); s
  }
}

final case class TopKSpec(capacity: Int, eps: Double, delta: Double, seed: Long)
    extends KernelSpec[TopKSketch](KeyWeight, TopKSketch.deserialize) {
  def create(): TopKSketch = TopKSketch(capacity, eps, delta, seed)
  def update(s: TopKSketch, v: Any, w: Any): TopKSketch = {
    val k = key(v)
    // the thunk runs inside updateRaw, before the row buffer can be reused
    s.updateRaw(Utf8Hash.h1(k, seed), Utf8Hash.h2(k, seed), weight(w), () => k.toString); s
  }
}

final case class MgSpec(capacity: Int)
    extends KernelSpec[MisraGries](KeyWeight, MisraGries.deserialize) {
  def create(): MisraGries = MisraGries(capacity)
  def update(s: MisraGries, v: Any, w: Any): MisraGries = { s.update(v.toString, weight(w)); s }
}

final case class FssSpec(numEntries: Int, numBuckets: Int, seed: Long)
    extends KernelSpec[FilteredSpaceSaving](KeyWeight, FilteredSpaceSaving.deserialize) {
  def create(): FilteredSpaceSaving = FilteredSpaceSaving(numEntries, numBuckets, seed)
  def update(s: FilteredSpaceSaving, v: Any, w: Any): FilteredSpaceSaving = {
    s.update(v.toString, weight(w)); s
  }
}

final case class HllSpec(p: Int, seed: Long)
    extends KernelSpec[HyperLogLog](Key, HyperLogLog.deserialize) {
  def create(): HyperLogLog = HyperLogLog(p, seed)
  def update(s: HyperLogLog, v: Any, w: Any): HyperLogLog = {
    s.addHash(Utf8Hash.h(key(v), seed)); s
  }
}

final case class BloomSpec(expectedItems: Long, fpp: Double, seed: Long)
    extends KernelSpec[BloomFilter](Key, BloomFilter.deserialize) {
  def create(): BloomFilter = BloomFilter.fromExpected(expectedItems, fpp, seed)
  def update(s: BloomFilter, v: Any, w: Any): BloomFilter = {
    s.addHash(Utf8Hash.of(key(v), seed)); s
  }
}

final case class KllSpec(k: Int, seed: Long)
    extends KernelSpec[KllSketch](Value, KllSketch.deserialize) {
  def create(): KllSketch = KllSketch(k, seed)
  def update(s: KllSketch, v: Any, w: Any): KllSketch = { s.update(value(v)); s }
}

final case class TDigestSpec(compression: Double)
    extends KernelSpec[TDigest](Value, TDigest.deserialize) {
  def create(): TDigest = TDigest(compression)
  def update(s: TDigest, v: Any, w: Any): TDigest = { s.update(value(v)); s }
}

/** `sketch_merge` buffer: the merged sketch so far, null before the first. */
final class Merged(var sketch: Mergeable[_])

/**
 * Merge of pre-built serialized sketches (checkpoint shards, per-group
 * rollups) with no rescan. `kind` pins the magic tag (`cm_merge`,
 * `hll_merge`, `kll_merge`); 0 accepts any kind, dispatched on the tag of
 * each input. Bytes of the wrong or of mixed kinds fail with an
 * IllegalArgumentException; zero or all-null input rows merge to null.
 */
final case class MergeSpec(kind: Int) extends SketchSpec[Merged] {
  def input: SketchInput = Sketch
  def create(): Merged = new Merged(null)
  def update(s: Merged, v: Any, w: Any): Merged = {
    val bytes = v.asInstanceOf[Array[Byte]]
    val tag = SketchIO.tag(bytes)
    require(kind == 0 || tag == kind,
      s"expected a ${SketchIO.tagName(kind)} sketch, got ${SketchIO.tagName(tag)}")
    merge(s, deserialize(bytes))
  }
  def merge(a: Merged, b: Merged): Merged = {
    if (a.sketch == null) a.sketch = b.sketch
    else if (b.sketch != null) {
      require(a.sketch.getClass == b.sketch.getClass, "cannot merge a " +
        s"${a.sketch.getClass.getSimpleName} with a ${b.sketch.getClass.getSimpleName}")
      a.sketch = a.sketch.asInstanceOf[Mergeable[AnyRef]].merge(b.sketch)
        .asInstanceOf[Mergeable[_]]
    }
    a
  }
  def serialize(s: Merged): Array[Byte] =
    if (s.sketch == null) Array.emptyByteArray else s.sketch.serialize()
  def deserialize(bytes: Array[Byte]): Merged =
    new Merged(if (bytes.isEmpty) null else SketchIO.decode(bytes))
  override def result(s: Merged): Any = if (s.sketch == null) null else s.sketch.serialize()
}

/** Scala-side registrations of the three build aggregates under their SQL
  * names with fixed parameters (`graft.Bench` and streaming callers). */
object NativeCountMinAgg {
  def register(spark: SparkSession, eps: Double = 1e-4, delta: Double = 0.01,
      seed: Long = CountMinSketch.DefaultSeed): Unit =
    SketchAgg.registerFixed(spark, "cm_sketch_fast", CmSpec(eps, delta, seed))
}

object NativeTopKAgg {
  def register(spark: SparkSession, capacity: Int = 4096, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Unit =
    SketchAgg.registerFixed(spark, "topk_sketch_fast", TopKSpec(capacity, eps, delta, seed))
}

object NativeHllAgg {
  def register(spark: SparkSession, p: Int = 14, seed: Long = HyperLogLog.DefaultSeed): Unit =
    SketchAgg.registerFixed(spark, "hll_sketch_fast", HllSpec(p, seed))
}
