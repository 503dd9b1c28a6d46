package perfbench

import graft.sketch.{CountMinSketch, Hash128, HyperLogLog, KllSketch, TDigest, TopKSketch}

/** Single-thread microbenchmark of the `graft.sketch` kernels, no Spark.
  *
  * Every kernel consumes the same pre-generated stream: the workload's keys,
  * their CM hash halves (h1, h2) and their weights. HLL takes h1 as its
  * 64-bit hash; KLL and t-digest take the weights as values. Each timed loop
  * runs once untimed first, for the JIT, and every figure is the median of
  * [[Reps]] timed repetitions. */
object Kernels {
  val Reps = 5
  /** Repetitions of a single merge, serialize or deserialize call. */
  val OpReps = 21

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** ns per stream element of `pass`, which gets a fresh sketch each time. */
  private def perElement(n: Int)(pass: () => Long): Double = {
    var sink = pass()
    val ns = (1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      sink += pass()
      (System.nanoTime() - t0).toDouble / n
    }
    if (sink == 42) println("") // keeps the passes observable to the JIT
    median(ns)
  }

  /** ms per call of `op` on a fresh input from `prepare`, which is untimed. */
  private def perCall[A](prepare: () => A)(op: A => Any): Double = {
    op(prepare())
    median((1 to OpReps).map { _ =>
      val a = prepare()
      val t0 = System.nanoTime()
      op(a)
      (System.nanoTime() - t0) / 1e6
    })
  }

  /** Merge, serialize and deserialize figures for one sketch kind, built as
    * two halves of the stream. */
  private def wire[S](kind: String, half: Int => S, merge: (S, S) => Any,
      serialize: S => Array[Byte], deserialize: Array[Byte] => S)
      : Seq[(String, Double, String)] = {
    val (a, b) = (half(0), half(1))
    val bytesA = serialize(a)
    Seq(
      (s"sketch.${kind}_merge_ms",
        perCall(() => deserialize(bytesA))(x => merge(x, b)), "ms"),
      (s"sketch.${kind}_serialize_ms", perCall(() => a)(serialize), "ms"),
      (s"sketch.${kind}_deserialize_ms", perCall(() => bytesA)(deserialize), "ms"),
      (s"sketch.${kind}_bytes", bytesA.length.toDouble, "bytes"))
  }

  def run(keys: Array[String], weights: Array[Long]): Seq[(String, Double, String)] = {
    val n = keys.length
    val seed = CountMinSketch.DefaultSeed
    val h1 = new Array[Long](n)
    val h2 = new Array[Long](n)
    val hashNs = perElement(n) { () =>
      var i = 0
      var acc = 0L
      while (i < n) {
        val h = Hash128.ofString(keys(i), seed)
        h1(i) = h.h1; h2(i) = h.h2; acc ^= h.h1
        i += 1
      }
      acc
    }
    val values = weights.map(_.toDouble)

    def cmOver(eps: Double, from: Int, until: Int): CountMinSketch = {
      val cm = CountMinSketch.fromErrorBounds(eps, 0.01)
      var i = from
      while (i < until) { cm.updateRaw(h1(i), h2(i), weights(i)); i += 1 }
      cm
    }
    def topkOver(from: Int, until: Int): TopKSketch = {
      val tk = TopKSketch(4096, 1e-4, 0.01)
      var i = from
      while (i < until) { val k = keys(i); tk.updateRaw(h1(i), h2(i), weights(i), () => k); i += 1 }
      tk
    }
    def hllOver(from: Int, until: Int): HyperLogLog = {
      val hll = HyperLogLog(14)
      var i = from
      while (i < until) { hll.addHash(h1(i)); i += 1 }
      hll
    }
    def kllOver(from: Int, until: Int): KllSketch = {
      val kll = KllSketch(200)
      var i = from
      while (i < until) { kll.update(values(i)); i += 1 }
      kll
    }
    def tdigestOver(from: Int, until: Int): TDigest = {
      val td = TDigest(100.0)
      var i = from
      while (i < until) { td.update(values(i)); i += 1 }
      td
    }
    val mid = n / 2
    def halves[S](over: (Int, Int) => S): Int => S =
      i => if (i == 0) over(0, mid) else over(mid, n)

    val cm = cmOver(1e-4, 0, n)
    val queryNs = perElement(n) { () =>
      var i = 0
      var acc = 0L
      while (i < n) { acc += cm.queryRaw(h1(i), h2(i)); i += 1 }
      acc
    }
    Seq(
      ("sketch.hash_ns", hashNs, "ns"),
      ("sketch.cm_update_ns", perElement(n)(() => cmOver(1e-4, 0, n).totalWeight), "ns"),
      ("sketch.cm_xl_update_ns", perElement(n)(() => cmOver(1e-5, 0, n).totalWeight), "ns"),
      ("sketch.topk_update_ns", perElement(n)(() => topkOver(0, n).totalWeight), "ns"),
      ("sketch.hll_update_ns", perElement(n)(() => hllOver(0, n).estimateLong()), "ns"),
      ("sketch.kll_update_ns", perElement(n)(() => kllOver(0, n).n), "ns"),
      ("sketch.tdigest_update_ns",
        perElement(n)(() => tdigestOver(0, n).centroidCount.toLong), "ns"),
      ("sketch.cm_query_ns", queryNs, "ns")) ++
      wire[CountMinSketch]("cm", halves(cmOver(1e-4, _, _)), _.merge(_),
        _.serialize(), CountMinSketch.deserialize) ++
      wire[CountMinSketch]("cm_xl", halves(cmOver(1e-5, _, _)), _.merge(_),
        _.serialize(), CountMinSketch.deserialize) ++
      wire[TopKSketch]("topk", halves(topkOver), _.merge(_),
        _.serialize(), TopKSketch.deserialize) ++
      wire[HyperLogLog]("hll", halves(hllOver), _.merge(_),
        _.serialize(), HyperLogLog.deserialize) ++
      wire[KllSketch]("kll", halves(kllOver), _.merge(_),
        _.serialize(), KllSketch.deserialize)
  }
}
