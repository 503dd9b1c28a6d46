package graft.agg

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/**
 * `cosine_micro(a, b)` — a native Catalyst expression computing
 * `floor(cosine(a, b) · 10⁶)` as BIGINT in ONE fused pass over the two
 * arrays, with real `doGenCode` (no intermediate `zip_with` array, no
 * per-element lambda plumbing, no norm recomputation as separate
 * aggregate subtrees).
 *
 * Bit-parity contract with the HOF formula the ANN family uses
 * (`aggregate(zip_with(a, b, x·y))` dot, `sqrt(aggregate(transform(a, x²)))`
 * norms, `floor(dot/(na·nb) · 1e6)`): the fused loop performs the SAME
 * IEEE operations in the SAME order — float→double widening per element,
 * left-to-right double accumulation of dot and both squared norms,
 * `dot / (√na · √nb) * 1e6`, `(long) Math.floor` — so swapping it into an
 * oracle-gated query cannot move any value (VectorExprSpec pins bit-parity
 * on adversarial random vectors, plus the null/length edge contract:
 * null array → null, length mismatch → null, null element → null, exactly
 * like the zip_with padding semantics).
 *
 * Element types FLOAT and DOUBLE are both supported (embeddings are
 * float[]; the q72 path widens to double[] first), independently per side.
 */
case class CosineMicro(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_micro"

  // resolved once, not per interpreted row (the element type is fixed at
  // analysis time); transient so a serialized expression re-derives them
  @transient private lazy val leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "cosine_micro expects (ARRAY<FLOAT|DOUBLE>, ARRAY<FLOAT|DOUBLE>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val fa = leftIsFloat; val fb = rightIsFloat
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    java.lang.Math.floor(dot / (java.lang.Math.sqrt(na) *
      java.lang.Math.sqrt(nb)) * 1.0e6).toLong
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val getA = if (leftIsFloat) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      val getB = if (rightIsFloat) s"(double) $b.getFloat($i)"
        else s"$b.getDouble($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = $getA;
         |    final double $y = $getB;
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  if (!${ev.isNull}) {
         |    ${ev.value} = (long) Math.floor(
         |      $dot / (Math.sqrt($na) * Math.sqrt($nb)) * 1.0E6);
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineMicro =
    copy(left = newLeft, right = newRight)
}

/**
 * `dot_range(a, b, start, len)` — the dot product of `slice(a, start, len)`
 * and `slice(b, start, len)` as DOUBLE, in one fused pass with no slice
 * materialization and no zip_with array. `start` is 1-based and `len` may
 * exceed the array length (slice semantics: take what exists), so
 * `dot_range(a, b, 1, Int.MaxValue)` is the full dot. Exactly replicates
 * the HOF formula's IEEE behavior: same per-element double widening, same
 * left-to-right accumulation, NULL when the two (sliced) lengths differ
 * (zip_with padding) or any touched element is null.
 *
 * This is the q25 pair-kernel primitive: the Cauchy–Schwarz prefix bound
 * evaluates `dot(slice(vl,1,16), slice(vr,1,16))` per CANDIDATE pair and
 * the survivors evaluate the full dot — both previously allocated slice +
 * zip_with arrays per pair, the dominant cost in the quadratic-by-design
 * tiled exact join (28 s at the 10× corpus).
 */
case class DotRange(left: Expression, right: Expression, start: Int, len: Int)
    extends BinaryExpression {

  require(start >= 1, "dot_range: start is 1-based")
  require(len >= 0, "dot_range: len must be >= 0")

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_range"

  @transient private lazy val leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "dot_range expects (ARRAY<FLOAT|DOUBLE>, ARRAY<FLOAT|DOUBLE>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  // slice length of an n-element array for (start, len), clamped at 0
  private def sliceLen(n: Int): Int =
    math.max(0, math.min(len.toLong, n.toLong - (start - 1)).toInt)

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val la = sliceLen(a.numElements()); val lb = sliceLen(b.numElements())
    if (la != lb) return null
    val fa = leftIsFloat; val fb = rightIsFloat
    var dot = 0.0; var i = start - 1; val end = start - 1 + la
    while (i < end) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (fa) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (fb) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val end = ctx.freshName("end")
      val la = ctx.freshName("la"); val lb = ctx.freshName("lb")
      val dot = ctx.freshName("dot")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val getA = if (leftIsFloat) s"(double) $a.getFloat($i)"
        else s"$a.getDouble($i)"
      val getB = if (rightIsFloat) s"(double) $b.getFloat($i)"
        else s"$b.getDouble($i)"
      val s0 = start - 1
      s"""
         |final int $la = (int) Math.max(0L, Math.min((long) $len, (long) $a.numElements() - $s0));
         |final int $lb = (int) Math.max(0L, Math.min((long) $len, (long) $b.numElements() - $s0));
         |if ($la != $lb) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  final int $end = $s0 + $la;
         |  for (int $i = $s0; $i < $end; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    final double $x = $getA;
         |    final double $y = $getB;
         |    $dot += $x * $y;
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotRange =
    copy(left = newLeft, right = newRight)
}

/**
 * `intersect_count_sorted(a, b)` — |a ∩ b| for two SORTED-ASCENDING,
 * DISTINCT ARRAY<BIGINT> columns as one fused two-pointer merge loop: no
 * per-pair hash set, no intersection array materialized (Spark's
 * `size(array_intersect(a, b))` builds both per invocation). The count of
 * distinct common elements is order-independent, so sorting the per-doc
 * arrays ONCE at build time and swapping this in for the per-PAIR
 * `array_intersect` is value-identical (VectorExprSpec pins equality
 * against the built-in on adversarial inputs).
 *
 * CONTRACT (the `_sorted` suffix is the warning): inputs must be sorted
 * ascending with distinct elements — an unsorted input silently
 * undercounts. Both swap sites (the Jaccard verify kernels) sort at the
 * per-doc set build, where it costs O(n log n) once instead of O(pairs).
 * A null ELEMENT anywhere in EITHER array returns null — including
 * trailing elements past the shorter side's exhaustion point, so the null
 * contract is uniform and position-independent (VERDICT r5 item 7). When
 * the array schema declares `containsNull = false` (both swap sites — the
 * set builders hash non-null strings) every null check, tails included,
 * compiles away entirely.
 */
case class IntersectCountSorted(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullable: Boolean = true
  override def prettyName: String = "intersect_count_sorted"

  // schema-level element nullability: containsNull=false proves no null
  // elements exist, so the per-element checks (and tail scans) are skipped
  @transient private lazy val leftMayHaveNullElems: Boolean =
    left.dataType.asInstanceOf[ArrayType].containsNull
  @transient private lazy val rightMayHaveNullElems: Boolean =
    right.dataType.asInstanceOf[ArrayType].containsNull

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType) = dt match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "intersect_count_sorted expects (ARRAY<BIGINT>, ARRAY<BIGINT>), got " +
        s"(${left.dataType.catalogString}, ${right.dataType.catalogString})")
  }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = a.numElements(); val nb = b.numElements()
    val ka = leftMayHaveNullElems; val kb = rightMayHaveNullElems
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      if ((ka && a.isNullAt(i)) || (kb && b.isNullAt(j))) return null
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    // uniform null contract: a null element in the unexhausted tail is
    // still a null element — scan both tails (no-ops unless nullable)
    if (ka) while (i < na) { if (a.isNullAt(i)) return null; i += 1 }
    if (kb) while (j < nb) { if (b.isNullAt(j)) return null; j += 1 }
    c
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val j = ctx.freshName("j")
      val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
      val c = ctx.freshName("c")
      val x = ctx.freshName("x"); val y = ctx.freshName("y")
      val loopNullCheck =
        if (leftMayHaveNullElems || rightMayHaveNullElems) {
          val checks = Seq(
            if (leftMayHaveNullElems) Some(s"$a.isNullAt($i)") else None,
            if (rightMayHaveNullElems) Some(s"$b.isNullAt($j)") else None
          ).flatten.mkString(" || ")
          s"if ($checks) { ${ev.isNull} = true; break; }"
        } else ""
      val tailA = if (leftMayHaveNullElems)
        s"""if (!${ev.isNull}) {
           |  while ($i < $na) { if ($a.isNullAt($i)) { ${ev.isNull} = true; break; } $i++; }
           |}""".stripMargin else ""
      val tailB = if (rightMayHaveNullElems)
        s"""if (!${ev.isNull}) {
           |  while ($j < $nb) { if ($b.isNullAt($j)) { ${ev.isNull} = true; break; } $j++; }
           |}""".stripMargin else ""
      s"""
         |final int $na = $a.numElements();
         |final int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $c = 0;
         |while ($i < $na && $j < $nb) {
         |  $loopNullCheck
         |  final long $x = $a.getLong($i);
         |  final long $y = $b.getLong($j);
         |  if ($x == $y) { $c++; $i++; $j++; }
         |  else if ($x < $y) { $i++; } else { $j++; }
         |}
         |$tailA
         |$tailB
         |if (!${ev.isNull}) { ${ev.value} = $c; }
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IntersectCountSorted =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Idempotent session registration of `cosine_micro`, `dot_range` and
    * `intersect_count_sorted` from the one `GraftExtensions` table — query
    * builders call this before constructing plans that use
    * `call_function("cosine_micro"/"dot_range"/..., ...)`. */
  def register(spark: SparkSession): Unit =
    graft.GraftExtensions.install(spark, "cosine_micro", "dot_range", "intersect_count_sorted")
}
