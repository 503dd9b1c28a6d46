package graft.sketch

/** Growable primitive double buffer (avoids boxing in sketch hot paths). */
final class DoubleBuf(initialCapacity: Int = 8) extends Serializable {
  private var arr = new Array[Double](math.max(2, initialCapacity))
  private var _size = 0

  def size: Int = _size
  def apply(i: Int): Double = arr(i)
  def update(i: Int, v: Double): Unit = arr(i) = v

  def add(v: Double): Unit = {
    if (_size == arr.length) arr = java.util.Arrays.copyOf(arr, arr.length * 2)
    arr(_size) = v
    _size += 1
  }

  def clear(): Unit = _size = 0

  def truncate(newSize: Int): Unit = { require(newSize <= _size); _size = newSize }

  def sortInPlace(): Unit = java.util.Arrays.sort(arr, 0, _size)

  def toArray: Array[Double] = java.util.Arrays.copyOf(arr, _size)

  def addAll(xs: Array[Double]): Unit = { var i = 0; while (i < xs.length) { add(xs(i)); i += 1 } }
}

/**
 * KLL quantile sketch (Karnin, Lang, Liberty, FOCS 2016) over doubles.
 *
 * Structure: a stack of compactors; items at level h carry weight 2^h.
 * Level capacities shrink geometrically (factor c = 2/3) from k at the top,
 * with a floor of [[KllSketch.MinCapacity]]. When total stored items exceed
 * total capacity, the lowest over-full level is sorted and every second item
 * (deterministic offset coin — see below) is promoted one level up.
 * Normalized rank error is O(1/k) (~1.65% at k=200, single-sided, 99%).
 *
 * Determinism: the compaction coin is `xxhash64(compaction-counter, seed) & 1`
 * rather than a random bit, so a fixed input order yields a bit-identical
 * sketch. Merge is associative only up to the published rank-error bound
 * (compaction depends on arrival order) — tests assert bounds, not bit
 * equality, matching SURVEY.md §7.5.
 *
 * Role: content-size quantiles per the north star; the reference has no
 * quantile operator, its analogous empirical-distribution work is the
 * metric folds over (true, est) lists (/root/reference/Simulator/Program.cs:724-740).
 */
final class KllSketch private (
    val k: Int,
    val seed: Long,
    private var levels: Array[DoubleBuf],
    private var _n: Long,
    private var compactions: Long
) extends Mergeable[KllSketch] {

  def n: Long = _n
  def numLevels: Int = levels.length

  /** Approximate normalized rank error (two-sided, high confidence). */
  def rankError: Double = 2.0 / k

  private def capacity(level: Int, nLevels: Int): Int = {
    // top level has capacity k; lower levels shrink by c=2/3 per step down
    val depthFromTop = nLevels - 1 - level
    var cap = k.toDouble
    var i = 0
    while (i < depthFromTop) { cap *= 2.0 / 3.0; i += 1 }
    math.max(KllSketch.MinCapacity, math.ceil(cap).toInt)
  }

  private def totalCapacity: Int = {
    var s = 0
    var i = 0
    while (i < levels.length) { s += capacity(i, levels.length); i += 1 }
    s
  }

  private def totalItems: Int = {
    var s = 0
    var i = 0
    while (i < levels.length) { s += levels(i).size; i += 1 }
    s
  }

  def update(x: Double): Unit = {
    levels(0).add(x)
    _n += 1
    if (totalItems > totalCapacity) compress()
  }

  private def grow(): Unit = {
    levels = levels :+ new DoubleBuf(8)
  }

  /** Compact the lowest level that is at/over its capacity. */
  private def compress(): Unit = {
    var guard = 0
    while (totalItems > totalCapacity && guard < 64) {
      var lvl = -1
      var i = 0
      while (lvl < 0 && i < levels.length) {
        if (levels(i).size >= capacity(i, levels.length)) lvl = i
        i += 1
      }
      if (lvl < 0) lvl = 0
      if (lvl == levels.length - 1) grow()
      compactLevel(lvl)
      guard += 1
    }
  }

  private def compactLevel(lvl: Int): Unit = {
    val buf = levels(lvl)
    if (buf.size < 2) return
    buf.sortInPlace()
    var start = 0
    if ((buf.size & 1) == 1) start = 1 // odd count: lowest item survives in place
    val coin = (XxHash64.hashLong(compactions, seed) & 1L).toInt
    compactions += 1
    val up = levels(lvl + 1)
    var i = start + coin
    while (i < buf.size) { up.add(buf(i)); i += 2 }
    // retained: the odd leftover (index 0) stays at this level
    if (start == 1) { val keep = buf(0); buf.clear(); buf.add(keep) }
    else buf.clear()
  }

  /** Merge: concatenate compactors level-wise, then compress to capacity.
    * Rank-error bound is preserved (KLL merge theorem); bit layout is
    * merge-order dependent by design. */
  def merge(other: KllSketch): KllSketch = {
    require(other.k == k && other.seed == seed, "incompatible KLL sketches")
    while (levels.length < other.levels.length) grow()
    var i = 0
    while (i < other.levels.length) {
      val ob = other.levels(i)
      var j = 0
      while (j < ob.size) { levels(i).add(ob(j)); j += 1 }
      i += 1
    }
    _n += other._n
    compactions += other.compactions // keeps coin sequence diverging deterministically
    if (totalItems > totalCapacity) compress()
    this
  }

  /** All (value, weight) pairs, sorted by value. */
  private def sortedWeighted(): (Array[Double], Array[Long]) = {
    val total = totalItems
    val vs = new Array[Double](total)
    val ws = new Array[Long](total)
    var idx = 0
    var lvl = 0
    while (lvl < levels.length) {
      val b = levels(lvl)
      val w = 1L << lvl
      var j = 0
      while (j < b.size) { vs(idx) = b(j); ws(idx) = w; idx += 1; j += 1 }
      lvl += 1
    }
    // sort pairs by value (indices sort to avoid boxing a tuple array)
    val order = (0 until total).sortBy(vs)(Ordering.Double.TotalOrdering).toArray
    (order.map(vs), order.map(ws))
  }

  /**
   * Discrete lower quantile: the smallest value whose cumulative weight
   * ≥ max(1, ⌈q·n⌉) — matches DuckDB/Postgres `quantile_disc`/
   * `percentile_disc` semantics exactly when the sketch has not compacted
   * (every item weight 1), which is the regime the Verify oracle runs in.
   */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"q out of range: $q")
    if (_n == 0) return Double.NaN
    val (vs, ws) = sortedWeighted()
    val totalW = ws.sum
    val target = math.max(1L, math.ceil(q * totalW).toLong)
    var cum = 0L
    var i = 0
    while (i < vs.length) {
      cum += ws(i)
      if (cum >= target) return vs(i)
      i += 1
    }
    vs(vs.length - 1)
  }

  /** Estimated normalized rank of x: fraction of weight strictly below x. */
  def rank(x: Double): Double = {
    if (_n == 0) return Double.NaN
    var below = 0L
    var total = 0L
    var lvl = 0
    while (lvl < levels.length) {
      val b = levels(lvl)
      val w = 1L << lvl
      var j = 0
      while (j < b.size) {
        if (b(j) < x) below += w
        total += w
        j += 1
      }
      lvl += 1
    }
    below.toDouble / total
  }

  def serialize(): Array[Byte] = {
    val total = totalItems
    val bb = SketchIO.writer(4 + 4 + 8 + 8 + 8 + 4 + levels.length * 4 + total * 8)
    bb.putInt(SketchIO.MagicKLL)
    bb.putInt(k)
    bb.putLong(seed)
    bb.putLong(_n)
    bb.putLong(compactions)
    bb.putInt(levels.length)
    var i = 0
    while (i < levels.length) {
      val b = levels(i)
      bb.putInt(b.size)
      var j = 0
      while (j < b.size) { bb.putDouble(b(j)); j += 1 }
      i += 1
    }
    bb.array()
  }
}

object KllSketch {
  final val DefaultSeed = 0x2f8e5b1a7c4d9036L
  final val MinCapacity = 8

  def apply(k: Int, seed: Long = DefaultSeed): KllSketch = {
    require(k >= 8 && k <= (1 << 20), s"k out of range: $k")
    new KllSketch(k, seed, Array(new DoubleBuf(math.min(k, 1024))), 0L, 0L)
  }

  def deserialize(bytes: Array[Byte]): KllSketch = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicKLL, "KLL")
    val k = bb.getInt
    val seed = bb.getLong
    val n = bb.getLong
    val compactions = bb.getLong
    val nLevels = bb.getInt
    val levels = Array.fill(nLevels) {
      val sz = bb.getInt
      val b = new DoubleBuf(math.max(8, sz))
      var j = 0
      while (j < sz) { b.add(bb.getDouble); j += 1 }
      b
    }
    new KllSketch(k, seed, levels, n, compactions)
  }
}
