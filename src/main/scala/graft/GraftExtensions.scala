package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.agg._
import graft.sketch._

/**
 * The library's SQL function surface, one table
 * ([[GraftExtensions.functionDescriptions]]) behind both wirings:
 *
 * {{{
 * spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
 * }}}
 *
 * injects it when the session is built, and [[GraftExtensions.install]]
 * registers the same table into a running session. It holds
 *  - the sketch build aggregates over [[graft.agg.SketchAgg]]: the inputs,
 *    then optional numeric literals, e.g.
 *    `cm_sketch(key, weight[, eps[, delta[, seed]]])` → BINARY, and
 *    likewise `cm_topk`, `cs_sketch`, `mg_sketch`, `fss_sketch`,
 *    `hll_sketch`, `bloom_sketch`, `kll_sketch`, `tdigest_sketch`.
 *    `cm_sketch_fast`, `topk_sketch_fast` and `hll_sketch_fast` are second
 *    names for the `cm_sketch`, `cm_topk` and `hll_sketch` builders
 *    (`topk_sketch_fast` defaults to capacity 4096, `cm_topk` to 1024);
 *  - `cm_merge`, `hll_merge`, `kll_merge` and the any-kind `sketch_merge`
 *    over serialized sketches → BINARY (null over no rows);
 *  - the native probes `cm_query_sketch(sketch, key)`,
 *    `cm_total_sketch(sketch)`, `hll_count_sketch(sketch)`,
 *    `kll_quantile_sketch(sketch, q)`, `topk_entries_sketch(sketch, k)`;
 *  - the UDF probes of [[graft.agg.SketchFunctions]] (`cm_query`,
 *    `cm_total`, `topk_entries`, `hll_count`, …);
 *  - the vector and string expressions (`cosine_micro`, `dot_range`,
 *    `intersect_count_sorted`, `cdc_cuts`),
 * so pure-SQL users (thriftserver, SQL files) get the library with no Scala
 * imports.
 */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functionDescriptions.foreach(ext.injectFunction)
}

object GraftExtensions {

  private type Builder = Seq[Expression] => Expression

  /** The value of numeric literal argument `param` of SQL function `fn`. */
  private def foldNum(fn: String, e: Expression, param: String): Double = {
    require(e.foldable, s"$fn: $param must be a literal")
    e.eval() match {
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case n: java.lang.Number => n.doubleValue()
      case other => throw new IllegalArgumentException(
        s"$fn: $param must be numeric, got $other")
    }
  }

  /** Builder of sketch aggregate `fn`: the `inputs` columns, then up to
    * `params.length` numeric literals; `spec` gets None for absent ones. */
  private def sketchAgg(fn: String, inputs: String, params: String*)(
      spec: Seq[Option[Double]] => SketchSpec[_ <: AnyRef]): (String, Builder) = {
    val n = inputs.split(", ").length
    fn -> { exprs =>
      require(exprs.length >= n && exprs.length <= n + params.length,
        s"usage: $fn($inputs${params.map(p => s"[, $p").mkString}${"]" * params.length})")
      SketchAgg(fn, spec(params.indices.map(i =>
        exprs.lift(n + i).map(foldNum(fn, _, params(i))))), exprs.take(n))
    }
  }

  private def cm(fn: String) = sketchAgg(fn, "key, weight", "eps", "delta", "seed") { a =>
    CmSpec(a(0).getOrElse(1e-4), a(1).getOrElse(0.01),
      a(2).fold(CountMinSketch.DefaultSeed)(_.toLong))
  }

  private def topk(fn: String, capacity: Int) =
    sketchAgg(fn, "key, weight", "capacity", "eps", "delta", "seed") { a =>
      TopKSpec(a(0).fold(capacity)(_.toInt), a(1).getOrElse(1e-4), a(2).getOrElse(0.01),
        a(3).fold(CountMinSketch.DefaultSeed)(_.toLong))
    }

  private def hll(fn: String) = sketchAgg(fn, "key", "p", "seed") { a =>
    HllSpec(a(0).fold(14)(_.toInt), a(1).fold(HyperLogLog.DefaultSeed)(_.toLong))
  }

  private def merge(fn: String, kind: Int) = sketchAgg(fn, "sketch")(_ => MergeSpec(kind))

  private val sketchAggs: Seq[(String, Builder)] = Seq(
    cm("cm_sketch"), cm("cm_sketch_fast"),
    topk("cm_topk", 1024), topk("topk_sketch_fast", 4096),
    hll("hll_sketch"), hll("hll_sketch_fast"),
    sketchAgg("cs_sketch", "key, weight", "depth", "width", "seed") { a =>
      CsSpec(a(0).fold(5)(_.toInt), a(1).fold(4096)(_.toInt),
        a(2).fold(CountSketch.DefaultSeed)(_.toLong))
    },
    sketchAgg("mg_sketch", "key, weight", "capacity")(a => MgSpec(a(0).fold(1024)(_.toInt))),
    sketchAgg("fss_sketch", "key, weight", "num_entries", "num_buckets", "seed") { a =>
      FssSpec(a(0).fold(1024)(_.toInt), a(1).fold(4096)(_.toInt),
        a(2).fold(FilteredSpaceSaving.DefaultSeed)(_.toLong))
    },
    sketchAgg("bloom_sketch", "key", "expected_items", "fpp", "seed") { a =>
      BloomSpec(a(0).fold(1L << 20)(_.toLong), a(1).getOrElse(0.01),
        a(2).fold(BloomFilter.DefaultSeed)(_.toLong))
    },
    sketchAgg("kll_sketch", "x", "k", "seed") { a =>
      KllSpec(a(0).fold(200)(_.toInt), a(1).fold(KllSketch.DefaultSeed)(_.toLong))
    },
    sketchAgg("tdigest_sketch", "x", "compression")(a => TDigestSpec(a(0).getOrElse(100.0))),
    merge("cm_merge", SketchIO.MagicCM), merge("hll_merge", SketchIO.MagicHLL),
    merge("kll_merge", SketchIO.MagicKLL), merge("sketch_merge", 0))

  /** Builder of a fixed-arity expression `fn(inputs)`. */
  private def fixed(fn: String, inputs: String)(make: Builder): (String, Builder) =
    fn -> { exprs =>
      require(exprs.length == inputs.split(", ").length, s"usage: $fn($inputs)")
      make(exprs)
    }

  private val nativeScalars: Seq[(String, Builder)] = Seq(
    fixed("cm_query_sketch", "sketch, key")(e => CmQuerySketch(e(0), e(1))),
    fixed("cm_total_sketch", "sketch")(e => CmTotalSketch(e(0))),
    fixed("hll_count_sketch", "sketch")(e => HllCountSketch(e(0))),
    fixed("kll_quantile_sketch", "sketch, q")(e => KllQuantileSketch(e(0), e(1))),
    fixed("topk_entries_sketch", "sketch, k")(e => TopKEntriesSketch(e(0), e(1))),
    fixed("cosine_micro", "vec_a, vec_b")(e => CosineMicro(e(0), e(1))),
    fixed("dot_range", "vec_a, vec_b, start, len") { e =>
      DotRange(e(0), e(1), foldNum("dot_range", e(2), "start").toInt,
        foldNum("dot_range", e(3), "len").toInt)
    },
    fixed("intersect_count_sorted", "arr_a, arr_b")(e => IntersectCountSorted(e(0), e(1))),
    fixed("cdc_cuts", "text, window, div") { e =>
      CdcCuts(e(0), foldNum("cdc_cuts", e(1), "window").toInt,
        foldNum("cdc_cuts", e(2), "div").toInt)
    })

  private val udfScalars: Seq[(String, Builder)] = SketchFunctions.sqlScalars.map {
    case (fn, f) =>
      fn -> ((exprs: Seq[Expression]) => ColumnBridge.scalaUdf(f.withName(fn), exprs))
  }

  /** (identifier, info, builder) triples: the one registration table,
    * shared by the extensions path and [[install]]. */
  val functionDescriptions
      : Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    (sketchAggs ++ nativeScalars ++ udfScalars).map { case (fn, builder) =>
      (FunctionIdentifier(fn), new ExpressionInfo(getClass.getName, fn), builder)
    }

  /** Register the same functions into an already-running session: all of
    * them, or only the ones named. */
  def install(spark: SparkSession, only: String*): Unit =
    functionDescriptions.foreach { case (id, _, builder) =>
      if (only.isEmpty || only.contains(id.funcName))
        spark.sessionState.functionRegistry
          .createOrReplaceTempFunction(id.funcName, builder, "built-in")
    }
}
