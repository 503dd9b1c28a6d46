package graft.sketch

/**
 * t-digest (Dunning & Ertl, "Computing Extremely Accurate Quantiles Using
 * t-Digests", 2019) — merging-digest variant: centroids (mean, weight) kept
 * sorted; incoming values buffer up and are merged in one sorted sweep
 * bounded by the k1 scale function k(q) = (δ/2π)·asin(2q−1), which
 * concentrates resolution at the distribution tails.
 *
 * Second quantile algorithm alongside [[KllSketch]] per the north rule.
 * Merge folds the other digest's centroids through the same sweep —
 * associative up to the accuracy bound (like all t-digest implementations,
 * not bit-stable under re-ordering; tests assert rank error, SURVEY.md §7.5).
 * Fully deterministic for a fixed input order (no randomness anywhere).
 */
final class TDigest private (
    val compression: Double,
    private var means: Array[Double],
    private var weights: Array[Double],
    private var nCentroids: Int,
    private var _totalWeight: Double,
    private var _min: Double,
    private var _max: Double
) extends Mergeable[TDigest] {

  private val bufCap = math.max(64, (4 * compression).toInt)
  private var bufMeans = new Array[Double](bufCap)
  private var bufWeights = new Array[Double](bufCap)
  private var bufSize = 0

  def totalWeight: Double = { mergeBuffer(); _totalWeight }
  def centroidCount: Int = { mergeBuffer(); nCentroids }

  def update(x: Double): Unit = add(x, 1.0)

  def add(x: Double, w: Double): Unit = {
    require(!x.isNaN && w > 0, s"bad centroid ($x, $w)")
    if (bufSize == bufCap) mergeBuffer()
    bufMeans(bufSize) = x
    bufWeights(bufSize) = w
    bufSize += 1
    if (x < _min) _min = x
    if (x > _max) _max = x
  }

  def merge(other: TDigest): TDigest = {
    require(other.compression == compression, "incompatible t-digests")
    other.mergeBuffer()
    var i = 0
    while (i < other.nCentroids) {
      add(other.means(i), other.weights(i))
      i += 1
    }
    // add() only sees centroid MEANS — fold the other side's true extremes
    // too, or post-merge quantiles near 0/1 clamp to interior values
    if (other._min < _min) _min = other._min
    if (other._max > _max) _max = other._max
    this
  }

  @inline private def kScale(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

  private def mergeBuffer(): Unit = {
    if (bufSize == 0) return
    // gather existing centroids + buffer, sort by mean (stable on indices)
    val total = nCentroids + bufSize
    val ms = new Array[Double](total)
    val ws = new Array[Double](total)
    System.arraycopy(means, 0, ms, 0, nCentroids)
    System.arraycopy(weights, 0, ws, 0, nCentroids)
    System.arraycopy(bufMeans, 0, ms, nCentroids, bufSize)
    System.arraycopy(bufWeights, 0, ws, nCentroids, bufSize)
    bufSize = 0
    val order = Array.range(0, total)
    // insertion-stable sort by mean via boxed indices (merge path, not per-row)
    val sorted = order.sortBy(ms)(Ordering.Double.TotalOrdering)
    val totalW = {
      var s = 0.0; var i = 0
      while (i < total) { s += ws(i); i += 1 }
      s
    }
    val outM = new Array[Double](total)
    val outW = new Array[Double](total)
    var outN = 0
    var curM = ms(sorted(0))
    var curW = ws(sorted(0))
    var cumW = 0.0 // weight fully emitted so far
    var i = 1
    while (i < total) {
      val m = ms(sorted(i))
      val w = ws(sorted(i))
      val proposed = curW + w
      val q0 = cumW / totalW
      val q2 = (cumW + proposed) / totalW
      if (kScale(q2) - kScale(q0) <= 1.0) {
        // absorb into current centroid (weighted mean)
        curM = curM + (m - curM) * (w / proposed)
        curW = proposed
      } else {
        outM(outN) = curM; outW(outN) = curW; outN += 1
        cumW += curW
        curM = m; curW = w
      }
      i += 1
    }
    outM(outN) = curM; outW(outN) = curW; outN += 1
    means = java.util.Arrays.copyOf(outM, outN)
    weights = java.util.Arrays.copyOf(outW, outN)
    nCentroids = outN
    _totalWeight = totalW
  }

  /** Interpolated quantile over centroid midpoints, clamped to [min, max]. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"q out of range: $q")
    mergeBuffer()
    if (nCentroids == 0) return Double.NaN
    if (nCentroids == 1) return means(0)
    val target = q * _totalWeight
    if (target <= weights(0) / 2.0) return _min
    // walk centroid midpoints: centroid i covers cum weight around its center
    var cum = 0.0
    var i = 0
    while (i < nCentroids - 1) {
      val center = cum + weights(i) / 2.0
      val nextCenter = cum + weights(i) + weights(i + 1) / 2.0
      if (target < nextCenter) {
        if (target <= center) return means(i)
        val frac = (target - center) / (nextCenter - center)
        return means(i) + (means(i + 1) - means(i)) * frac
      }
      cum += weights(i)
      i += 1
    }
    _max
  }

  /** Estimated normalized rank of x (fraction of weight below x). */
  def rank(x: Double): Double = {
    mergeBuffer()
    if (nCentroids == 0) return Double.NaN
    if (x < _min) return 0.0
    if (x >= _max) return 1.0
    var cum = 0.0
    var i = 0
    while (i < nCentroids) {
      if (means(i) >= x) {
        // linear within centroid neighborhood
        val prevMean = if (i == 0) _min else means(i - 1)
        val prevCum = cum - (if (i == 0) 0.0 else weights(i - 1) / 2.0)
        val thisCum = cum + weights(i) / 2.0
        val frac = if (means(i) == prevMean) 0.0 else (x - prevMean) / (means(i) - prevMean)
        return math.min(1.0, math.max(0.0, (prevCum + (thisCum - prevCum) * frac) / _totalWeight))
      }
      cum += weights(i)
      i += 1
    }
    1.0
  }

  def serialize(): Array[Byte] = {
    mergeBuffer()
    val bb = SketchIO.writer(4 + 8 + 4 + 8 + 8 + 8 + nCentroids * 16)
    bb.putInt(SketchIO.MagicTD)
    bb.putDouble(compression)
    bb.putInt(nCentroids)
    bb.putDouble(_totalWeight)
    bb.putDouble(_min)
    bb.putDouble(_max)
    var i = 0
    while (i < nCentroids) { bb.putDouble(means(i)); bb.putDouble(weights(i)); i += 1 }
    bb.array()
  }
}

object TDigest {
  def apply(compression: Double = 100.0): TDigest = {
    require(compression >= 20 && compression <= 10000, s"compression out of range: $compression")
    new TDigest(compression, new Array[Double](0), new Array[Double](0), 0, 0.0,
      Double.PositiveInfinity, Double.NegativeInfinity)
  }

  def deserialize(bytes: Array[Byte]): TDigest = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicTD, "t-digest")
    val compression = bb.getDouble
    val n = bb.getInt
    val totalW = bb.getDouble
    val mn = bb.getDouble
    val mx = bb.getDouble
    val means = new Array[Double](n)
    val weights = new Array[Double](n)
    var i = 0
    while (i < n) { means(i) = bb.getDouble; weights(i) = bb.getDouble; i += 1 }
    new TDigest(compression, means, weights, n, totalW, mn, mx)
  }
}
