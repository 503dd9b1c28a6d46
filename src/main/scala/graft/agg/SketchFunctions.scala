package graft.agg

import org.apache.spark.sql.{Column, functions}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import graft.sketch._

/**
 * User-facing surface of the sketch library: `Column`-returning builders,
 * usable directly in `df.agg(...)`; [[graft.GraftExtensions]] registers the
 * same aggregates and probes for SQL. Scalar query functions decode the
 * fixed binary layout ([[graft.sketch.SketchIO]]), mirroring the reference's
 * split between sketch build (update loop) and the point-query service that
 * answers key batches against finished sketch state
 * (/root/reference/KernelQueue/main.c:63-144).
 */
/** Decoded heavy-hitter entry: sketch-estimated count per key. */
final case class TopKEntry(key: String, est: Long)

/** Decoded FSS entry: monitored count f and its error bound e. */
final case class FssEntry(key: String, f: Long, e: Long)

object SketchFunctions {

  /**
   * Thread-local memo for deserialized sketches. Broadcast-sketch probe
   * queries pass the same serialized bytes to a scalar UDF once per row; a
   * d×w CM is ~1.3MB, so per-row deserialization would dominate the probe
   * (measured 14s → sub-second on a 20k-key probe). Keyed by a cheap
   * fingerprint (length + xxhash of head/middle/tail samples) because each
   * row hands the UDF a fresh byte-array copy — identity caching can't hit.
   */
  private final class SketchMemo[T >: Null <: AnyRef] {
    // 4 slots per thread so queries probing several broadcast sketches per
    // row (e.g. q42's 3 replicas combined with `least`) don't thrash the
    // memo back into per-row deserialization; round-robin eviction.
    private final class Slots {
      val f1 = new Array[Long](4)
      val f2 = new Array[Long](4)
      val vs = new Array[AnyRef](4)
      var next = 0
    }
    private val local = new ThreadLocal[Slots] {
      override def initialValue(): Slots = new Slots
    }
    // Fingerprint = xxhash64 of the ENTIRE byte array (two seeds). Sampling
    // head/mid/tail bytes is NOT safe here: sparse same-shape sketches are
    // ~all zeros with identical headers and collided in practice (a probe
    // answered from the wrong query's sketch). Full-array hashing costs
    // ~0.1ms/MB per row — still ~3x cheaper than deserializing, and exact.
    def get(bytes: Array[Byte], parse: Array[Byte] => T): T = {
      val f1 = XxHash64.hashBytes(bytes, 0x5eedL)
      val f2 = XxHash64.hashBytes(bytes, 0xfeedL)
      val s = local.get()
      var i = 0
      while (i < 4) {
        if (s.vs(i) != null && s.f1(i) == f1 && s.f2(i) == f2)
          return s.vs(i).asInstanceOf[T]
        i += 1
      }
      val v = parse(bytes)
      val slot = s.next
      s.f1(slot) = f1; s.f2(slot) = f2; s.vs(slot) = v
      s.next = (slot + 1) & 3
      v
    }
  }

  private val cmMemo = new SketchMemo[CountMinSketch]

  /** Memoized decodes for the native scalar expressions
    * ([[CmQuerySketch]] etc.) — same thread-local memos as the UDF probes,
    * so both surfaces share amortization. */
  private[agg] def decodeCmMemoized(bytes: Array[Byte]): CountMinSketch =
    cmMemo.get(bytes, CountMinSketch.deserialize)
  private[agg] def decodeHllMemoized(bytes: Array[Byte]): HyperLogLog =
    hllMemo.get(bytes, HyperLogLog.deserialize)
  private[agg] def decodeKllMemoized(bytes: Array[Byte]): KllSketch =
    kllMemo.get(bytes, KllSketch.deserialize)
  private[agg] def decodeTopKMemoized(bytes: Array[Byte]): TopKSketch =
    topkMemo.get(bytes, TopKSketch.deserialize)
  private val topkMemo = new SketchMemo[TopKSketch]
  private val csMemo = new SketchMemo[CountSketch]
  private val mgMemo = new SketchMemo[MisraGries]
  private val fssMemo = new SketchMemo[FilteredSpaceSaving]
  private val hllMemo = new SketchMemo[HyperLogLog]
  private val bloomMemo = new SketchMemo[BloomFilter]
  private val kllMemo = new SketchMemo[KllSketch]
  private val tdMemo = new SketchMemo[TDigest]

  // ---- aggregate builders (Column API)
  //
  // Each returns a Column over the one [[SketchAgg]] build. Inputs are cast
  // explicitly to what the aggregate reads: keys to STRING, weights to
  // BIGINT, quantile values to DOUBLE (no-ops on columns already of that
  // type, removed by the optimizer).

  private def agg(name: String, spec: SketchSpec[_ <: AnyRef], inputs: Column*): Column =
    ColumnBridge.aggregate(SketchAgg(name, spec, inputs.map(ColumnBridge.expression)))

  private def keyed(name: String, spec: SketchSpec[_ <: AnyRef], key: Column,
      weight: Column): Column =
    agg(name, spec, key.cast(StringType), weight.cast(LongType))

  /** Count-Min build: `cm_sketch(key, weight)` → binary sketch. */
  def cm_sketch(key: Column, weight: Column, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Column =
    keyed("cm_sketch", CmSpec(eps, delta, seed), key, weight)

  /** Merge pre-built CM sketches (shards → one). */
  def cm_merge(sketch: Column): Column = agg("cm_merge", MergeSpec(SketchIO.MagicCM), sketch)

  /** Heavy-hitter build: CM + candidate heap of `capacity` keys. */
  def cm_topk(key: Column, weight: Column, capacity: Int, eps: Double = 1e-4,
      delta: Double = 0.01, seed: Long = CountMinSketch.DefaultSeed): Column =
    keyed("cm_topk", TopKSpec(capacity, eps, delta, seed), key, weight)

  /** Count-Sketch build (signed rows, unbiased median query). */
  def cs_sketch(key: Column, weight: Column, depth: Int = 5, width: Int = 4096,
      seed: Long = CountSketch.DefaultSeed): Column =
    keyed("cs_sketch", CsSpec(depth, width, seed), key, weight)

  /** Misra-Gries frequent-items summary (SketchVisor's role, provable). */
  def mg_sketch(key: Column, weight: Column, capacity: Int): Column =
    keyed("mg_sketch", MgSpec(capacity), key, weight)

  /** Filtered Space-Saving summary. */
  def fss_sketch(key: Column, weight: Column, numEntries: Int,
      numBuckets: Int = 4096, seed: Long = FilteredSpaceSaving.DefaultSeed): Column =
    keyed("fss_sketch", FssSpec(numEntries, numBuckets, seed), key, weight)

  def hll_sketch(key: Column, p: Int = 14,
      seed: Long = HyperLogLog.DefaultSeed): Column =
    agg("hll_sketch", HllSpec(p, seed), key.cast(StringType))

  def bloom_sketch(key: Column, expectedItems: Long, fpp: Double = 0.01,
      seed: Long = BloomFilter.DefaultSeed): Column =
    agg("bloom_sketch", BloomSpec(expectedItems, fpp, seed), key.cast(StringType))

  def kll_sketch(x: Column, k: Int = 200,
      seed: Long = KllSketch.DefaultSeed): Column =
    agg("kll_sketch", KllSpec(k, seed), x.cast(DoubleType))

  /** Merge pre-built KLL shards (shards → one), the quantile tier's
    * re-aggregation surface next to [[cm_merge]]. */
  def kll_merge(sketch: Column): Column = agg("kll_merge", MergeSpec(SketchIO.MagicKLL), sketch)

  /** Merge pre-built HLL shards (shards → one) — idempotent register max,
    * so overlapping shard sets never double-count. */
  def hll_merge(sketch: Column): Column = agg("hll_merge", MergeSpec(SketchIO.MagicHLL), sketch)

  /** Merge pre-built sketches of any one kind, dispatched on the magic tag. */
  def sketch_merge(sketch: Column): Column = agg("sketch_merge", MergeSpec(0), sketch)

  def tdigest_sketch(x: Column, compression: Double = 100.0): Column =
    agg("tdigest_sketch", TDigestSpec(compression), x.cast(DoubleType))

  // ---- scalar query functions over serialized sketches

  // The scalar probes the SQL surface shares (see [[sqlScalars]]): one
  // memoized function value per probe, so SQL and Column-API calls decode a
  // repeated sketch once per thread, not once per row.

  private val cmQuery = functions.udf((b: Array[Byte], k: String) =>
    if (b == null || k == null) -1L else cmMemo.get(b, CountMinSketch.deserialize).query(k))
  private val cmTotal = functions.udf((b: Array[Byte]) =>
    if (b == null) -1L else cmMemo.get(b, CountMinSketch.deserialize).totalWeight)
  private val topkEntries = functions.udf((b: Array[Byte], k: Int) =>
    if (b == null) Array.empty[TopKEntry]
    else topkMemo.get(b, TopKSketch.deserialize).topK(k).map(e => TopKEntry(e._1, e._2)))
  private val csQuery = functions.udf((b: Array[Byte], k: String) =>
    if (b == null || k == null) -1L else csMemo.get(b, CountSketch.deserialize).query(k))
  private val mgQuery = functions.udf((b: Array[Byte], k: String) =>
    if (b == null || k == null) -1L else mgMemo.get(b, MisraGries.deserialize).query(k))
  private val fssQuery = functions.udf((b: Array[Byte], k: String) =>
    if (b == null || k == null) -1L
    else fssMemo.get(b, FilteredSpaceSaving.deserialize).query(k))
  private val hllCount = functions.udf((b: Array[Byte]) =>
    if (b == null) -1L else hllMemo.get(b, HyperLogLog.deserialize).estimateLong())
  private val bloomContains = functions.udf((b: Array[Byte], k: String) =>
    b != null && k != null && bloomMemo.get(b, BloomFilter.deserialize).mightContain(k))
  private val kllQuantile = functions.udf((b: Array[Byte], q: Double) =>
    if (b == null) Double.NaN else kllMemo.get(b, KllSketch.deserialize).quantile(q))
  private val tdigestQuantile = functions.udf((b: Array[Byte], q: Double) =>
    if (b == null) Double.NaN else tdMemo.get(b, TDigest.deserialize).quantile(q))

  /** SQL names of the scalar probes, registered by `graft.GraftExtensions`. */
  private[graft] val sqlScalars: Seq[(String, UserDefinedFunction)] = Seq(
    "cm_query" -> cmQuery, "cm_total" -> cmTotal, "topk_entries" -> topkEntries,
    "cs_query" -> csQuery, "mg_query" -> mgQuery, "fss_query" -> fssQuery,
    "hll_count" -> hllCount, "bloom_contains" -> bloomContains,
    "kll_quantile" -> kllQuantile, "tdigest_quantile" -> tdigestQuantile)

  /** Point-frequency estimate of `key` from a serialized CM sketch. */
  def cm_query(sketch: Column, key: Column): Column = cmQuery(sketch, key)

  /** Batched point-frequency probe: decode the sketch ONCE, answer every
    * key in the array — the preferred probe shape when the key set fits a
    * row (the per-row `cm_query` UDF is for billion-key probe sides). */
  def cm_query_each(sketch: Column, keys: Column): Column =
    functions.udf((bytes: Array[Byte], keys: Array[String]) =>
      if (bytes == null) Array.empty[TopKEntry]
      else {
        val cm = CountMinSketch.deserialize(bytes)
        keys.map(k => TopKEntry(k, if (k == null) -1L else cm.query(k)))
      }
    ).apply(sketch, keys)

  /** Probe a finished 1-row CM sketch against a LARGE key side: collects the
    * sketch, broadcasts the DECODED object once per executor, and returns a
    * key→estimate Column builder. Use this instead of
    * `keys.crossJoin(broadcast(sketchDF))` + `cm_query` whenever the probe
    * side is big — the crossJoin materializes the ~1.3MB serialized sketch
    * into EVERY probe row (tens of GB of byte copying at 20k keys) and the
    * memo re-fingerprints it per row; the broadcast variable does neither
    * (measured: q28 29.6s → sub-second probe at sf0.1). */
  def cm_probe(sketchRow: org.apache.spark.sql.DataFrame): Column => Column = {
    val bytes = sketchRow.head().getAs[Array[Byte]](0)
    val bc = sketchRow.sparkSession.sparkContext
      .broadcast(CountMinSketch.deserialize(bytes))
    key => functions.udf((k: String) =>
      if (k == null) -1L else bc.value.query(k)).apply(key)
  }

  /** [[cm_probe]]'s Bloom twin: collect a finished 1-row Bloom sketch,
    * broadcast the DECODED filter once per executor, return a membership
    * Column builder. Same rationale: a `crossJoin(broadcast(bloomDF))`
    * would copy the filter's bytes into EVERY probe row. */
  def bloom_probe(sketchRow: org.apache.spark.sql.DataFrame): Column => Column = {
    val bytes = sketchRow.head().getAs[Array[Byte]](0)
    val bc = sketchRow.sparkSession.sparkContext
      .broadcast(BloomFilter.deserialize(bytes))
    key => functions.udf((k: String) =>
      k != null && bc.value.mightContain(k)).apply(key)
  }

  /** Like [[cm_probe]] but also exposes the sketch's total weight N. */
  def cm_probe_with_total(sketchRow: org.apache.spark.sql.DataFrame)
      : (Column => Column, Long) = {
    val bytes = sketchRow.head().getAs[Array[Byte]](0)
    val sk = CountMinSketch.deserialize(bytes)
    val bc = sketchRow.sparkSession.sparkContext.broadcast(sk)
    (key => functions.udf((k: String) =>
      if (k == null) -1L else bc.value.query(k)).apply(key),
      sk.totalWeight)
  }

  /** Total stream weight N recorded in a CM sketch (for ε·N bounds). */
  def cm_total(sketch: Column): Column = cmTotal(sketch)

  /** Top-k entries of a serialized TopK sketch → array<struct<key,est>>. */
  def topk_entries(sketch: Column, k: Int): Column = topkEntries(sketch, functions.lit(k))

  def cs_query(sketch: Column, key: Column): Column = csQuery(sketch, key)

  def mg_query(sketch: Column, key: Column): Column = mgQuery(sketch, key)

  /** All (key, est) entries of a Misra-Gries summary. */
  def mg_entries(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Array.empty[TopKEntry]
      else MisraGries.deserialize(bytes).entries.toArray
        .sortBy { case (k, v) => (-v, k) }.map(e => TopKEntry(e._1, e._2))
    ).apply(sketch)

  def fss_query(sketch: Column, key: Column): Column = fssQuery(sketch, key)

  /** All (key, f, e) entries of an FSS summary, f desc. */
  def fss_entries(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Array.empty[FssEntry]
      else FilteredSpaceSaving.deserialize(bytes).entries.toArray
        .sortBy { case (k, f, _) => (-f, k) }
        .map { case (k, f, e) => FssEntry(k, f, e) }
    ).apply(sketch)

  def hll_count(sketch: Column): Column = hllCount(sketch)

  def hll_stderr(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) Double.NaN else hllMemo.get(bytes, HyperLogLog.deserialize).standardError
    ).apply(sketch)

  /** Register-wise max of two HLL sketches — the |A ∪ B| estimator and the
    * root of the sketch set-algebra surface (intersection and difference
    * fall out by inclusion–exclusion on the three estimates). Merge is
    * associative, commutative and IDEMPOTENT, so unions of overlapping
    * shards never double-count — the property exact distinct aggregation
    * loses the moment the sets live on different machines. Deserializes
    * fresh copies, so the in-place register merge never aliases cached
    * sketches. */
  def hll_set_union(a: Column, b: Column): Column =
    functions.udf((x: Array[Byte], y: Array[Byte]) =>
      if (x == null || y == null) null
      else HyperLogLog.deserialize(x).merge(HyperLogLog.deserialize(y)).serialize()
    ).apply(a, b)

  def bloom_contains(sketch: Column, key: Column): Column = bloomContains(sketch, key)

  def kll_quantile(sketch: Column, q: Column): Column = kllQuantile(sketch, q)

  def kll_n(sketch: Column): Column =
    functions.udf((bytes: Array[Byte]) =>
      if (bytes == null) -1L else kllMemo.get(bytes, KllSketch.deserialize).n
    ).apply(sketch)

  def tdigest_quantile(sketch: Column, q: Column): Column = tdigestQuantile(sketch, q)

  def tdigest_rank(sketch: Column, x: Column): Column =
    functions.udf((bytes: Array[Byte], x: Double) =>
      if (bytes == null) Double.NaN else tdMemo.get(bytes, TDigest.deserialize).rank(x)
    ).apply(sketch, x)
}
