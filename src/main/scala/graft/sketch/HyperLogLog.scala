package graft.sketch

/**
 * HyperLogLog (Flajolet et al. 2007) over 64-bit hashes: 2^p byte registers,
 * register j = max number of leading zeros (+1) of the remaining hash bits
 * for items landing in bucket j. Standard error 1.04/√(2^p).
 *
 * Plays the reference's distinct-candidate-set role (`GetAllKeys` HashSet
 * union, /root/reference/Simulation/CountMax.cs:101-108,277-284) at bounded
 * space. Merge = elementwise register max — associative, commutative,
 * idempotent, so partial aggregation and re-merge of checkpoint shards are
 * exact (bit-identical state regardless of merge order).
 *
 * Estimator: raw harmonic-mean estimate with the 64-bit-hash convention (no
 * large-range correction needed) and linear counting below the 2.5·m
 * small-range threshold.
 */
final class HyperLogLog private (
    val p: Int,
    val seed: Long,
    val registers: Array[Byte]
) extends Mergeable[HyperLogLog] {

  val m: Int = 1 << p

  /** Expected relative standard error of [[estimate]]. */
  def standardError: Double = 1.04 / math.sqrt(m.toDouble)

  @inline def addHash(hash: Long): Unit = {
    val idx = (hash >>> (64 - p)).toInt
    // rank = leading zeros of the remaining (64-p) bits, +1; capped by construction
    val w = (hash << p) | (1L << (p - 1)) // sentinel guarantees rank <= 64-p+1... see note
    val rank = (java.lang.Long.numberOfLeadingZeros(w) + 1).toByte
    if (rank > registers(idx)) registers(idx) = rank
  }

  def add(key: String): Unit = addHash(XxHash64.hashString(key, seed))
  def add(key: Long): Unit = addHash(XxHash64.hashLong(key, seed))
  def add(key: Array[Byte]): Unit = addHash(XxHash64.hashBytes(key, seed))

  private def alpha: Double = m match {
    case 16 => 0.673
    case 32 => 0.697
    case 64 => 0.709
    case _ => 0.7213 / (1.0 + 1.079 / m)
  }

  def estimate(): Double = {
    var sum = 0.0
    var zeros = 0
    var i = 0
    while (i < m) {
      val r = registers(i)
      sum += java.lang.Double.longBitsToDouble((1023L - r) << 52) // 2^-r exactly
      if (r == 0) zeros += 1
      i += 1
    }
    val raw = alpha * m.toDouble * m.toDouble / sum
    if (raw <= 2.5 * m && zeros > 0) m * math.log(m.toDouble / zeros) // linear counting
    else raw
  }

  def estimateLong(): Long = math.rint(estimate()).toLong

  /** Register-wise max. Associative, commutative, idempotent. */
  def merge(other: HyperLogLog): HyperLogLog = {
    require(other.p == p && other.seed == seed,
      s"incompatible HLL sketches: ($p,$seed) vs (${other.p},${other.seed})")
    var i = 0
    while (i < m) {
      if (other.registers(i) > registers(i)) registers(i) = other.registers(i)
      i += 1
    }
    this
  }

  def copySketch(): HyperLogLog = new HyperLogLog(p, seed, registers.clone())

  def serialize(): Array[Byte] = {
    val bb = SketchIO.writer(4 + 4 + 8 + m)
    bb.putInt(SketchIO.MagicHLL)
    bb.putInt(p)
    bb.putLong(seed)
    bb.put(registers)
    bb.array()
  }
}

object HyperLogLog {
  final val DefaultSeed = 0x1b4c8a6e93d5f072L

  def apply(p: Int, seed: Long = DefaultSeed): HyperLogLog = {
    require(p >= 4 && p <= 18, s"precision out of range [4,18]: $p")
    new HyperLogLog(p, seed, new Array[Byte](1 << p))
  }

  def deserialize(bytes: Array[Byte]): HyperLogLog = {
    val bb = SketchIO.reader(bytes, SketchIO.MagicHLL, "HyperLogLog")
    val p = bb.getInt
    val seed = bb.getLong
    val regs = new Array[Byte](1 << p)
    bb.get(regs)
    new HyperLogLog(p, seed, regs)
  }
}
