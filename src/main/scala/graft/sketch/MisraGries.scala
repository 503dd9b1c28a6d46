package graft.sketch

import scala.collection.mutable

/**
 * Misra-Gries frequent-items summary (Misra & Gries 1982): k counters; a new
 * key evicts nothing — instead, when the map is full, ALL counters decrement
 * by the incoming weight's share until slots free up. Guarantee:
 * true(k) − N/(capacity+1) ≤ est(k) ≤ true(k).
 *
 * Plays the reference's SketchVisor role (the K-entry kick-out hash map with
 * an adaptive decrement threshold, /root/reference/Simulation/SketchVisor.cs:33-86
 * — SketchVisor's `ComputeThresh` is a tuned batch decrement; Misra-Gries is
 * the canonical form of the same idea with a provable bound). Unlike
 * SketchVisor, this summary MERGES with the bound intact (Agarwal et al.,
 * PODS 2012): add counters pairwise, then subtract the (capacity+1)-largest
 * count and drop non-positive entries — merged error ≤ N_a/(c+1) + N_b/(c+1).
 */
final class MisraGries private (
    val capacity: Int,
    private val counts: mutable.HashMap[String, Long],
    private var _totalWeight: Long,
    private var _decrementTotal: Long
) extends Mergeable[MisraGries] {

  def totalWeight: Long = _totalWeight

  /** Upper bound on the undercount of any reported estimate. */
  def errorBound: Long = _decrementTotal

  def update(key: String, weight: Long): Unit = {
    _totalWeight += weight
    val cur = counts.getOrElse(key, 0L)
    if (cur > 0L || counts.size < capacity) {
      counts(key) = cur + weight
    } else {
      // decrement all by the min(weight, current minimum) until a slot frees
      var remaining = weight
      while (remaining > 0) {
        val min = counts.valuesIterator.min
        val dec = math.min(remaining, min)
        _decrementTotal += dec
        val dead = mutable.ArrayBuffer.empty[String]
        counts.mapValuesInPlace((_, v) => v - dec)
        counts.foreach { case (k, v) => if (v <= 0) dead += k }
        dead.foreach(counts.remove)
        remaining -= dec
        if (counts.size < capacity) {
          if (remaining > 0) counts(key) = remaining
          remaining = 0
        }
      }
    }
  }

  /** Estimated count (never overestimates; undercount ≤ errorBound). */
  def query(key: String): Long = counts.getOrElse(key, 0L)

  def entries: Map[String, Long] = counts.toMap

  /** Agarwal et al. merge: pairwise add, then subtract the (capacity+1)-th
    * largest value and drop non-positives. */
  def merge(other: MisraGries): MisraGries = {
    require(other.capacity == capacity, "incompatible MG summaries")
    other.counts.foreach { case (k, v) =>
      counts(k) = counts.getOrElse(k, 0L) + v
    }
    _totalWeight += other._totalWeight
    _decrementTotal += other._decrementTotal
    if (counts.size > capacity) {
      val sorted = counts.values.toArray
      java.util.Arrays.sort(sorted)
      val cut = sorted(sorted.length - capacity - 1) // (capacity+1)-th largest
      _decrementTotal += cut
      val dead = mutable.ArrayBuffer.empty[String]
      counts.mapValuesInPlace((_, v) => v - cut)
      counts.foreach { case (k, v) => if (v <= 0) dead += k }
      dead.foreach(counts.remove)
    }
    this
  }

  def serialize(): Array[Byte] = {
    val encoded = counts.toArray.map { case (k, v) =>
      (k.getBytes(java.nio.charset.StandardCharsets.UTF_8), v)
    }
    val strBytes = encoded.map(_._1.length).sum
    val bb = SketchIO.writer(4 + 4 + 8 + 8 + 4 + encoded.length * 12 + strBytes)
    bb.putInt(MisraGries.Magic)
    bb.putInt(capacity)
    bb.putLong(_totalWeight)
    bb.putLong(_decrementTotal)
    bb.putInt(encoded.length)
    encoded.foreach { case (kb, v) =>
      bb.putInt(kb.length); bb.put(kb); bb.putLong(v)
    }
    bb.array()
  }
}

object MisraGries {
  final val Magic = 0x4D475331 // "MGS1"

  def apply(capacity: Int): MisraGries = {
    require(capacity >= 1 && capacity <= (1 << 22), s"capacity out of range: $capacity")
    new MisraGries(capacity, new mutable.HashMap[String, Long], 0L, 0L)
  }

  def deserialize(bytes: Array[Byte]): MisraGries = {
    val bb = SketchIO.reader(bytes, Magic, "Misra-Gries")
    val capacity = bb.getInt
    val total = bb.getLong
    val dec = bb.getLong
    val n = bb.getInt
    val m = new mutable.HashMap[String, Long]
    var i = 0
    while (i < n) {
      val klen = bb.getInt
      val kb = new Array[Byte](klen)
      bb.get(kb)
      m(new String(kb, java.nio.charset.StandardCharsets.UTF_8)) = bb.getLong
      i += 1
    }
    new MisraGries(capacity, m, total, dec)
  }
}
