package graft.agg

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed [[Aggregator]]s that are not sketches. The sketch builds are the
  * one native [[SketchAgg]]. */
object SketchAggregators {

  // ---- exact top-k rows by priority (mergeable — the streaming q86 face)

  /** EXACT bounded top-k over 4-long rows (p, id, a, b), ordered by
    * (p DESC, id ASC): a merge MONOID (union-then-truncate is associative,
    * commutative, idempotent on the kept set), so it is streaming-complete-
    * mode-safe with O(k) state — the aggregate-side twin of TakeOrdered,
    * for plans where the funnel must live INSIDE an aggregation (q97). */
  final class TopRowsAggregator(k: Int) extends Aggregator[
      (Long, Long, Long, Long),
      scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
      Array[Byte]] {
    // amortized trim: let the buffer grow to 2k before sorting down to k,
    // so the per-row cost is O(log k) amortized instead of a sort per row
    // past k; every trim keeps a superset of the true top-k, and finish
    // sorts the final buffer, so laziness never changes the result
    private def trim(b: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]) = {
      if (b.length >= 2 * k) {
        val kept = b.sortBy(r => (-r._1, r._2)).take(k)
        b.clear(); b ++= kept
      }
      b
    }
    override def zero = scala.collection.mutable.ArrayBuffer.empty
    override def reduce(b: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
        a: (Long, Long, Long, Long)) = trim(b += a)
    override def merge(x: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)],
        y: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]) = trim(x ++= y)
    override def finish(b: scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)])
        : Array[Byte] =
      TopRowsCodec.serialize(b.sortBy(r => (-r._1, r._2)).take(k).toSeq)
    override def bufferEncoder:
        Encoder[scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]] =
      Encoders.kryo[scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Wire form of the top-rows result: k × 4 big-endian longs. */
  object TopRowsCodec {
    def serialize(rows: Seq[(Long, Long, Long, Long)]): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(rows.length * 32)
      rows.foreach { r => bb.putLong(r._1); bb.putLong(r._2)
        bb.putLong(r._3); bb.putLong(r._4) }
      bb.array()
    }
    def deserialize(bytes: Array[Byte]): Seq[(Long, Long, Long, Long)] = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
      Seq.fill(bytes.length / 32)(
        (bb.getLong(), bb.getLong(), bb.getLong(), bb.getLong()))
    }
  }
}
