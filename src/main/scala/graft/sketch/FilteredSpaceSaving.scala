package graft.sketch

import scala.collection.mutable

/**
 * Filtered Space-Saving (Homem & Carvalho 2010): Space-Saving's w monitored
 * (key, count f, error e) entries guarded by a hashed "filter" array of
 * per-bucket error counts α — an unmonitored key is admitted only when
 * α[h(key)] + v would beat the smallest monitored count; on eviction the
 * victim's count folds back into its α bucket.
 *
 * Reference twin: C# `FSpaceSaving.SwitchSketch.Update`
 * (/root/reference/Simulation/FSpaceSaving.cs:46-70; query :72-80 clamps ≥0)
 * and C `KernelCountMax/fss.h:62-95` (whose `fss_query` falls off the end
 * without returning for tracked keys — a latent UB bug we do NOT replicate,
 * per SURVEY.md §2 S11).
 *
 * Guarantees (Space-Saving family): f(k) ≥ true(k) ≥ f(k) − e(k); every key
 * with true(k) > N/w is monitored.
 *
 * Merge (the step the reference lacks; Agarwal et al. 2012 for the
 * SpaceSaving core): α arrays add elementwise; monitored entries union with
 * f and e adding (a key absent on one side contributes that side's α bucket
 * value as both f and e — its maximum possible count there); then trim back
 * to w by folding the smallest entries into their α buckets. Error bounds
 * add across sides, so merged summaries stay sound (bound-preserving, not
 * bit-stable — tested like KLL/t-digest).
 */
final class FilteredSpaceSaving private (
    val numEntries: Int, // w monitored entries
    val numBuckets: Int, // α filter width (power of two)
    val seed: Long,
    private val alpha: Array[Long],
    private val fCount: mutable.HashMap[String, Long],
    private val eCount: mutable.HashMap[String, Long],
    private var _totalWeight: Long
) extends Mergeable[FilteredSpaceSaving] {

  private val mask = numBuckets - 1

  // cached minimum monitored entry: f only ever grows for non-min keys, so
  // the min changes only when the min key itself is touched or an eviction
  // happens — recompute then, O(1) otherwise (minBy per update measured 20x
  // slower at capacity 1024)
  @transient private var minKeyCache: String = null
  @transient private var minFCache: Long = Long.MaxValue

  private def recomputeMin(): Unit = {
    minKeyCache = null
    minFCache = Long.MaxValue
    fCount.foreach { case (k, f) =>
      if (f < minFCache || (f == minFCache && (minKeyCache == null || k < minKeyCache))) {
        minKeyCache = k
        minFCache = f
      }
    }
  }

  def totalWeight: Long = _totalWeight
  def monitoredCount: Int = fCount.size

  @inline private def bucket(key: String): Int =
    (XxHash64.hashString(key, seed) & mask).toInt

  def update(key: String, weight: Long): Unit = {
    _totalWeight += weight
    val cur = fCount.getOrElse(key, -1L)
    if (cur >= 0L) {
      fCount(key) = cur + weight
      if (key == minKeyCache) recomputeMin() // min key grew — min may move
      return
    }
    val b = bucket(key)
    if (fCount.size < numEntries) {
      val f = alpha(b) + weight
      fCount(key) = f
      eCount(key) = alpha(b)
      if (f < minFCache || (f == minFCache && (minKeyCache == null || key < minKeyCache))) {
        minKeyCache = key
        minFCache = f
      }
      return
    }
    if (minKeyCache == null) recomputeMin()
    if (alpha(b) + weight > minFCache) {
      // evict min back into its bucket (reference: Update's kick-out branch)
      alpha(bucket(minKeyCache)) = minFCache
      fCount.remove(minKeyCache)
      eCount.remove(minKeyCache)
      fCount(key) = alpha(b) + weight
      eCount(key) = alpha(b)
      recomputeMin()
    } else {
      alpha(b) += weight
    }
  }

  /** Monitored count f (≥ true), or 0 if unmonitored (C# clamp behavior). */
  def query(key: String): Long = fCount.getOrElse(key, 0L)

  /** Guaranteed-minimum count f − e (≤ true). */
  def guaranteedCount(key: String): Long =
    fCount.getOrElse(key, 0L) - eCount.getOrElse(key, 0L)

  def entries: Seq[(String, Long, Long)] =
    fCount.toSeq.map { case (k, f) => (k, f, eCount(k)) }

  def merge(other: FilteredSpaceSaving): FilteredSpaceSaving = {
    require(other.numEntries == numEntries && other.numBuckets == numBuckets
      && other.seed == seed, "incompatible FSS summaries")
    val keys = fCount.keySet ++ other.fCount.keySet
    val mergedF = new mutable.HashMap[String, Long]
    val mergedE = new mutable.HashMap[String, Long]
    keys.foreach { k =>
      val b = bucket(k)
      val (fa, ea) = if (fCount.contains(k)) (fCount(k), eCount(k))
        else (alpha(b), alpha(b))
      val (fb, eb) = if (other.fCount.contains(k)) (other.fCount(k), other.eCount(k))
        else (other.alpha(b), other.alpha(b))
      mergedF(k) = fa + fb
      mergedE(k) = ea + eb
    }
    var i = 0
    while (i < numBuckets) { alpha(i) += other.alpha(i); i += 1 }
    fCount.clear(); eCount.clear()
    val kept = mergedF.toSeq.sortBy { case (k, f) => (-f, k) }
    kept.take(numEntries).foreach { case (k, f) =>
      fCount(k) = f
      eCount(k) = mergedE(k)
    }
    kept.drop(numEntries).foreach { case (k, f) =>
      val b = bucket(k)
      if (f > alpha(b)) alpha(b) = f
    }
    recomputeMin()
    _totalWeight += other._totalWeight
    this
  }

  def serialize(): Array[Byte] = {
    val encoded = fCount.toArray.map { case (k, f) =>
      (k.getBytes(java.nio.charset.StandardCharsets.UTF_8), f, eCount(k))
    }
    val strBytes = encoded.map(_._1.length).sum
    val bb = SketchIO.writer(4 + 4 + 4 + 8 + 8 + 8 * numBuckets + 4 +
      encoded.length * 20 + strBytes)
    bb.putInt(FilteredSpaceSaving.Magic)
    bb.putInt(numEntries)
    bb.putInt(numBuckets)
    bb.putLong(seed)
    bb.putLong(_totalWeight)
    SketchIO.putLongs(bb, alpha)
    bb.putInt(encoded.length)
    encoded.foreach { case (kb, f, e) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(f); bb.putLong(e)
    }
    bb.array()
  }
}

object FilteredSpaceSaving {
  final val Magic = 0x46535331 // "FSS1"
  final val DefaultSeed = 0x7e2d91c4a6f3b508L

  def apply(numEntries: Int, numBuckets: Int = 1024,
      seed: Long = DefaultSeed): FilteredSpaceSaving = {
    require(numEntries >= 1 && numEntries <= (1 << 22))
    val nb = SketchIO.nextPow2(numBuckets)
    new FilteredSpaceSaving(numEntries, nb, seed, new Array[Long](nb),
      new mutable.HashMap, new mutable.HashMap, 0L)
  }

  def deserialize(bytes: Array[Byte]): FilteredSpaceSaving = {
    val bb = SketchIO.reader(bytes, Magic, "FSS")
    val ne = bb.getInt
    val nb = bb.getInt
    val seed = bb.getLong
    val total = bb.getLong
    val alpha = SketchIO.getLongs(bb, nb)
    val n = bb.getInt
    val f = new mutable.HashMap[String, Long]
    val e = new mutable.HashMap[String, Long]
    var i = 0
    while (i < n) {
      val klen = bb.getInt
      val kb = new Array[Byte](klen)
      bb.get(kb)
      val key = new String(kb, java.nio.charset.StandardCharsets.UTF_8)
      f(key) = bb.getLong
      e(key) = bb.getLong
      i += 1
    }
    new FilteredSpaceSaving(ne, nb, seed, alpha, f, e, total)
  }
}
