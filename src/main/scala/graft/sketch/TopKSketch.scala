package graft.sketch

import scala.collection.mutable

/**
 * Mergeable heavy-hitter sketch: a [[CountMinSketch]] for frequency
 * estimation plus a dictionary-indexed min-heap of the `capacity` keys with
 * the largest current estimates.
 *
 * This is the reference's "top-w heap alongside the sketch" pattern
 * (/root/reference/Simulation/CountSketch.cs:81-121 in C#, and the C
 * `hash_heap` twin /root/reference/KernelCountMax/countsketch.h:111-136 with
 * /root/reference/KernelCountMax/hashheap.h:36-165; indexed-heap shape as in
 * /root/reference/Simulation/Heap.cs:45-309), made distributed: unlike the
 * reference's single-threaded update loop, this sketch merges — CM counters
 * sum, candidate key sets union and are re-estimated against the merged CM,
 * then trimmed back to `capacity` (the mergeable-summaries recipe of
 * Agarwal et al., PODS 2012). The reference's own flagship CountMax sketch is
 * order-sensitive and not cleanly mergeable (SURVEY.md §2 S4), so this
 * CM+heap pair is the production heavy-hitter path.
 *
 * Guarantee: every key with true count > ε·N is in the candidate set w.h.p.
 * (CM never underestimates, so a heavy key's estimate always clears the heap
 * minimum), and reported estimates obey CM's ε·N additive bound.
 */
final class TopKSketch private (
    val capacity: Int,
    val cm: CountMinSketch,
    private val heapKeys: Array[String],
    private val heapEsts: Array[Long],
    private var heapSize: Int,
    // candidate index keyed by the key's 64-bit h1 hash: primitive LongMap
    // (no boxing, no per-lookup string hashing). A same-slot collision of two
    // simultaneous heap candidates has probability ~cap^2/2^65 — negligible
    // against the sketch's own error budget.
    private val index: mutable.LongMap[Int],
    private val heapHashes: Array[Long]
) extends Mergeable[TopKSketch] {

  def candidateCount: Int = heapSize
  def totalWeight: Long = cm.totalWeight

  // ---- indexed binary min-heap by estimate (ties: key order, for determinism)

  @inline private def less(i: Int, j: Int): Boolean = {
    val a = heapEsts(i); val b = heapEsts(j)
    if (a != b) a < b else heapKeys(i) > heapKeys(j) // larger key = "smaller" → evicted first
  }

  @inline private def swap(i: Int, j: Int): Unit = {
    val tk = heapKeys(i); heapKeys(i) = heapKeys(j); heapKeys(j) = tk
    val te = heapEsts(i); heapEsts(i) = heapEsts(j); heapEsts(j) = te
    val th = heapHashes(i); heapHashes(i) = heapHashes(j); heapHashes(j) = th
    index(heapHashes(i)) = i
    index(heapHashes(j)) = j
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0 && less(i, (i - 1) >> 1)) { swap(i, (i - 1) >> 1); i = (i - 1) >> 1 }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var s = i
      if (l < heapSize && less(l, s)) s = l
      if (r < heapSize && less(r, s)) s = r
      if (s == i) done = true else { swap(i, s); i = s }
    }
  }

  private def heapInsert(key: String, h1: Long, est: Long): Unit = {
    heapKeys(heapSize) = key
    heapEsts(heapSize) = est
    heapHashes(heapSize) = h1
    index(h1) = heapSize
    heapSize += 1
    siftUp(heapSize - 1)
  }

  private def heapReplaceRoot(key: String, h1: Long, est: Long): Unit = {
    index.remove(heapHashes(0))
    heapKeys(0) = key
    heapEsts(0) = est
    heapHashes(0) = h1
    index(h1) = 0
    siftDown(0)
  }

  // ---- sketch operations

  def update(key: String, weight: Long): Unit = {
    val h = Hash128.ofString(key, cm.seed)
    updateRaw(h.h1, h.h2, weight, () => key)
  }

  /** Zero-decode update from precomputed double-hash halves: `key`
    * materializes the String only on the COLD path (the key enters or
    * replaces a heap candidate) — the hot path (non-candidate row) never
    * decodes bytes. `key` is invoked synchronously within this call, so
    * callers may close over row-backed buffers. Bit-identical to
    * update(key, weight) given the same hashes (pinned in NativeAggSpec). */
  def updateRaw(h1: Long, h2: Long, weight: Long, key: () => String): Unit = {
    val est = cm.updateAndQueryRaw(h1, h2, weight)
    // exact short-circuit for the cold-key hot path: stored estimates only
    // grow and equal the CM estimate at last touch, so a key whose current
    // estimate is strictly below the heap minimum cannot be IN the heap
    // (its stored est ≤ est < min) nor enter it — skip the index lookup
    if (heapSize == capacity && est < heapEsts(0)) return
    val pos = index.getOrElse(h1, -1)
    if (pos >= 0) {
      heapEsts(pos) = est // estimates only grow → sift down
      siftDown(pos)
    } else if (heapSize < capacity) {
      heapInsert(key(), h1, est)
    } else if (est > heapEsts(0)) {
      heapReplaceRoot(key(), h1, est)
    } else if (est == heapEsts(0)) {
      val k = key()
      if (k < heapKeys(0)) heapReplaceRoot(k, h1, est)
    }
  }

  /** CM-merge then candidate-union + re-estimate + trim to capacity. */
  def merge(other: TopKSketch): TopKSketch = {
    require(other.capacity == capacity, "incompatible TopK sketches")
    cm.merge(other.cm)
    val union = new mutable.HashSet[String]
    var i = 0
    while (i < heapSize) { union += heapKeys(i); i += 1 }
    i = 0
    while (i < other.heapSize) { union += other.heapKeys(i); i += 1 }
    // re-estimate everything against the merged CM, keep top `capacity`
    val entries = union.toArray.map(k => (k, cm.query(k)))
    val kept =
      if (entries.length <= capacity) entries
      else {
        java.util.Arrays.sort(entries, TopKSketch.DescOrder)
        entries.take(capacity)
      }
    heapSize = 0
    index.clear()
    kept.foreach { case (k, e) =>
      heapInsert(k, Hash128.ofString(k, cm.seed).h1, e)
    }
    this
  }

  /** Top `k` candidates, (estimate desc, key asc) — deterministic order. */
  def topK(k: Int): Array[(String, Long)] = {
    val entries = new Array[(String, Long)](heapSize)
    var i = 0
    while (i < heapSize) { entries(i) = (heapKeys(i), heapEsts(i)); i += 1 }
    java.util.Arrays.sort(entries, TopKSketch.DescOrder)
    entries.take(math.min(k, heapSize))
  }

  def estimate(key: String): Long = cm.query(key)

  def serialize(): Array[Byte] = {
    val cmBytes = cm.serialize()
    var strBytes = 0
    var i = 0
    val encoded = new Array[Array[Byte]](heapSize)
    while (i < heapSize) {
      encoded(i) = heapKeys(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      strBytes += encoded(i).length
      i += 1
    }
    val bb = SketchIO.writer(4 + 4 + 4 + cmBytes.length + 4 + heapSize * 12 + strBytes)
    bb.putInt(SketchIO.MagicTopK)
    bb.putInt(capacity)
    bb.putInt(cmBytes.length)
    bb.put(cmBytes)
    bb.putInt(heapSize)
    i = 0
    while (i < heapSize) {
      bb.putInt(encoded(i).length)
      bb.put(encoded(i))
      bb.putLong(heapEsts(i))
      i += 1
    }
    bb.array()
  }
}

object TopKSketch {
  private[sketch] val DescOrder: java.util.Comparator[(String, Long)] =
    new java.util.Comparator[(String, Long)] {
      override def compare(a: (String, Long), b: (String, Long)): Int = {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c else a._1.compareTo(b._1)
      }
    }

  def apply(capacity: Int, eps: Double, delta: Double,
      seed: Long = CountMinSketch.DefaultSeed): TopKSketch = {
    require(capacity >= 1 && capacity <= (1 << 22), s"capacity out of range: $capacity")
    new TopKSketch(capacity, CountMinSketch.fromErrorBounds(eps, delta, seed),
      new Array[String](capacity), new Array[Long](capacity), 0,
      new mutable.LongMap[Int](capacity * 2), new Array[Long](capacity))
  }

  def deserialize(bytes: Array[Byte]): TopKSketch = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicTopK, "TopK")
    val capacity = bb.getInt
    val cmLen = bb.getInt
    val cmBytes = new Array[Byte](cmLen)
    bb.get(cmBytes)
    val cm = CountMinSketch.deserialize(cmBytes)
    val n = bb.getInt
    val sk = new TopKSketch(capacity, cm, new Array[String](capacity),
      new Array[Long](capacity), 0, new mutable.LongMap[Int](capacity * 2),
      new Array[Long](capacity))
    var i = 0
    while (i < n) {
      val klen = bb.getInt
      val kb = new Array[Byte](klen)
      bb.get(kb)
      val est = bb.getLong
      val key = new String(kb, java.nio.charset.StandardCharsets.UTF_8)
      sk.heapInsert(key, Hash128.ofString(key, cm.seed).h1, est)
      i += 1
    }
    sk
  }
}
