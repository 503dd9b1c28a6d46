package graft.sketch

import java.nio.{ByteBuffer, ByteOrder}

/** What every sketch kernel offers the aggregate layer: an in-place merge
  * with a same-kind sketch and its [[SketchIO]] wire bytes. */
trait Mergeable[S] extends Serializable {
  def merge(other: S): S
  def serialize(): Array[Byte]
}

/**
 * Little-endian fixed-layout binary (de)serialization helpers shared by all
 * sketch kernels. Every serialized sketch starts with a 4-byte magic tag so a
 * wrong-sketch-type deserialize fails loudly instead of corrupting state.
 */
object SketchIO {
  final val MagicCM: Int = 0x434D5331 // "CMS1"
  final val MagicHLL: Int = 0x484C4C31 // "HLL1"
  final val MagicBloom: Int = 0x424C4D31 // "BLM1"
  final val MagicKLL: Int = 0x4B4C4C31 // "KLL1"
  final val MagicTD: Int = 0x54444731 // "TDG1"
  final val MagicTopK: Int = 0x54504B31 // "TPK1"

  /** The 4-character name of a magic tag, e.g. "CMS1", for error messages. */
  def tagName(magic: Int): String =
    new String(ByteBuffer.allocate(4).putInt(magic).array(),
      java.nio.charset.StandardCharsets.US_ASCII)

  /** Decode serialized sketch bytes of any kernel, dispatching on the magic
    * tag. Unknown tags fail with an IllegalArgumentException. */
  def decode(bytes: Array[Byte]): Mergeable[_] =
    tag(bytes) match {
      case MagicCM => CountMinSketch.deserialize(bytes)
      case MagicHLL => HyperLogLog.deserialize(bytes)
      case MagicBloom => BloomFilter.deserialize(bytes)
      case MagicKLL => KllSketch.deserialize(bytes)
      case MagicTD => TDigest.deserialize(bytes)
      case MagicTopK => TopKSketch.deserialize(bytes)
      case CountSketch.Magic => CountSketch.deserialize(bytes)
      case MisraGries.Magic => MisraGries.deserialize(bytes)
      case FilteredSpaceSaving.Magic => FilteredSpaceSaving.deserialize(bytes)
      case other => throw new IllegalArgumentException(
        s"not a serialized sketch (magic=0x${other.toHexString})")
    }

  /** The magic tag that serialized sketch bytes start with. */
  def tag(bytes: Array[Byte]): Int = {
    require(bytes.length >= 4, s"not a serialized sketch (${bytes.length} bytes)")
    ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN).getInt
  }

  def writer(capacity: Int): ByteBuffer =
    ByteBuffer.allocate(capacity).order(ByteOrder.LITTLE_ENDIAN)

  def reader(bytes: Array[Byte], expectMagic: Int, what: String): ByteBuffer = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val magic = bb.getInt
    require(magic == expectMagic,
      s"not a serialized $what sketch (magic=0x${magic.toHexString})")
    bb
  }

  def putLongs(bb: ByteBuffer, xs: Array[Long]): Unit = {
    var i = 0
    while (i < xs.length) { bb.putLong(xs(i)); i += 1 }
  }

  def getLongs(bb: ByteBuffer, n: Int): Array[Long] = {
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = bb.getLong; i += 1 }
    out
  }

  def putDoubles(bb: ByteBuffer, xs: Array[Double]): Unit = {
    var i = 0
    while (i < xs.length) { bb.putDouble(xs(i)); i += 1 }
  }

  def getDoubles(bb: ByteBuffer, n: Int): Array[Double] = {
    val out = new Array[Double](n)
    var i = 0
    while (i < n) { out(i) = bb.getDouble; i += 1 }
    out
  }

  def putString(bb: ByteBuffer, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    bb.putInt(b.length)
    bb.put(b)
  }

  def getString(bb: ByteBuffer): String = {
    val n = bb.getInt
    val b = new Array[Byte](n)
    bb.get(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  def nextPow2(n: Int): Int = {
    require(n > 0 && n <= (1 << 30), s"size out of range: $n")
    var p = 1
    while (p < n) p <<= 1
    p
  }
}
