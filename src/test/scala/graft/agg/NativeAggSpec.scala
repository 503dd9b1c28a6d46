package graft.agg

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.{GraftExtensions, SparkTestBase}
import graft.agg.SketchFunctions._
import graft.sketch._

/**
 * The one sketch aggregate ([[SketchAgg]]) against single-pass kernel
 * builds at 1, 8 and 32 partitions: bit-exact for the linear and idempotent
 * kernels (CM, CS, HLL, Bloom), listing- or bound-preserving for the ones
 * whose state depends on merge order (top-k, MG, FSS, KLL, t-digest). Also
 * pins the input semantics: empty input, nulls, merges of nothing, wrong
 * kinds, input coercions.
 */
class NativeAggSpec extends SparkTestBase {

  import spark.implicits._

  private lazy val stream = StreamFixtures.weightedZipfStream(40000, 2000)
  private lazy val truth = StreamFixtures.exactCounts(stream)
  private val Parts = Seq(1, 8, 32)

  private def streamDf(parts: Int): DataFrame = stream.toDF("k", "w").repartition(parts)

  private def bytes(df: DataFrame, c: Column): Array[Byte] =
    df.agg(c.as("sk")).head().getAs[Array[Byte]]("sk")

  private def sqlBytes(df: DataFrame, call: String): Array[Byte] = {
    df.createOrReplaceTempView("native_agg_v")
    spark.sql(s"SELECT $call AS sk FROM native_agg_v").head().getAs[Array[Byte]]("sk")
  }

  private def kernel[S](s: S)(add: (S, String, Long) => Unit): S = {
    stream.foreach { case (k, w) => add(s, k, w) }
    s
  }

  private def sameBytes(a: Array[Byte], b: Array[Byte]): Boolean = java.util.Arrays.equals(a, b)

  test("cm_sketch_fast == single-pass kernel build, bit-exact, across partitions") {
    NativeCountMinAgg.register(spark, eps = 1e-3, delta = 0.01)
    val single = kernel(CountMinSketch.fromErrorBounds(1e-3, 0.01))(_.update(_, _))
    for (parts <- Parts)
      assert(sameBytes(sqlBytes(streamDf(parts), "cm_sketch_fast(k, w)"), single.serialize()),
        s"parts=$parts")
  }

  test("hll_sketch_fast == single-pass kernel build, bit-exact, across partitions") {
    NativeHllAgg.register(spark, p = 14)
    val single = kernel(HyperLogLog(14))((s, k, _) => s.add(k))
    // register max is order-independent, so the serialized state (not just
    // the estimate) must match bit-for-bit at any partitioning
    for (parts <- Parts)
      assert(sameBytes(sqlBytes(streamDf(parts), "hll_sketch_fast(k)"), single.serialize()),
        s"parts=$parts")
  }

  test("cs_sketch and bloom_sketch == single-pass kernel build, bit-exact, across partitionings") {
    val cs = kernel(CountSketch(5, 4096))(_.update(_, _))
    val bloom = kernel(BloomFilter.fromExpected(10000, 1e-4))((s, k, _) => s.add(k))
    for (parts <- Parts) {
      val df = streamDf(parts)
      assert(sameBytes(bytes(df, cs_sketch(col("k"), col("w"))), cs.serialize()), s"cs parts=$parts")
      assert(sameBytes(bytes(df, bloom_sketch(col("k"), expectedItems = 10000, fpp = 1e-4)),
        bloom.serialize()), s"bloom parts=$parts")
    }
  }

  test("topk_sketch_fast listing == single-pass kernel listing, across partitions") {
    // capacity exceeds the distinct keyspace, so no trim happens: every key
    // is a candidate, re-estimated against the merged CM, whatever the
    // partitioning. Heap bytes may differ (insertion order); the
    // deterministic (est desc, key asc) listing must not.
    NativeTopKAgg.register(spark, capacity = 4096, eps = 1e-3, delta = 0.01)
    val single = TopKSketch(4096, 1e-3, 0.01)
      .merge(kernel(TopKSketch(4096, 1e-3, 0.01))(_.update(_, _)))
    for (parts <- Parts) {
      val got = TopKSketch.deserialize(sqlBytes(streamDf(parts), "topk_sketch_fast(k, w)"))
      assert(got.totalWeight === single.totalWeight, s"parts=$parts weight")
      assert(got.candidateCount === single.candidateCount, s"parts=$parts candidates")
      assert(got.topK(4096).toSeq === single.topK(4096).toSeq, s"parts=$parts topK")
    }
  }

  test("native topk agg trims deterministically under capacity pressure") {
    // capacity below the keyspace, one partition read in stream order: the
    // partial buffer reproduces the kernel's exact heap evolution, and the
    // final merge re-estimates it as merging the kernel build does
    NativeTopKAgg.register(spark, capacity = 64, eps = 1e-3, delta = 0.01)
    val single = TopKSketch(64, 1e-3, 0.01)
      .merge(kernel(TopKSketch(64, 1e-3, 0.01))(_.update(_, _)))
    val got = TopKSketch.deserialize(
      sqlBytes(stream.toDF("k", "w").coalesce(1), "topk_sketch_fast(k, w)"))
    assert(got.topK(64).toSeq === single.topK(64).toSeq)
  }

  test("mg_sketch and fss_sketch keep their frequency bounds across partitionings") {
    for (parts <- Parts) {
      val df = streamDf(parts)
      val mg = MisraGries.deserialize(bytes(df, mg_sketch(col("k"), col("w"), capacity = 500)))
      val n = mg.totalWeight
      assert(n === truth.values.sum, s"parts=$parts")
      assert(mg.errorBound <= parts * (n / 501 + 1), s"parts=$parts errorBound")
      truth.foreach { case (k, t) =>
        val est = mg.query(k)
        assert(est <= t && est >= t - mg.errorBound, s"parts=$parts mg $k est=$est t=$t")
      }
      val fss = FilteredSpaceSaving.deserialize(
        bytes(df, fss_sketch(col("k"), col("w"), numEntries = 500)))
      assert(fss.totalWeight === n, s"parts=$parts")
      truth.filter(_._2 > n / 250).foreach { case (k, t) =>
        assert(fss.query(k) >= t, s"parts=$parts fss $k f=${fss.query(k)} t=$t")
        assert(fss.guaranteedCount(k) <= t, s"parts=$parts fss $k guaranteed > t")
      }
    }
  }

  test("kll_sketch and tdigest_sketch quantiles stay within rank bounds across partitionings") {
    val sorted = stream.map(_._2.toDouble).sorted
    def rank(x: Double) = sorted.count(_ < x).toDouble / sorted.length
    for (parts <- Parts) {
      val df = streamDf(parts)
      val kll = KllSketch.deserialize(bytes(df, kll_sketch(col("w"), k = 200)))
      val td = TDigest.deserialize(bytes(df, tdigest_sketch(col("w"), compression = 200.0)))
      assert(kll.n === sorted.length.toLong, s"parts=$parts")
      for (q <- Seq(0.1, 0.5, 0.9)) {
        // weights are integers 1..256: the quantile is a point mass, so
        // accept any q inside [rank(x), rank(x + 1)) widened by the bound
        for ((name, x, tol) <- Seq(("kll", kll.quantile(q), 0.04), ("tdigest", td.quantile(q), 0.03)))
          assert(rank(x) - tol <= q && q <= rank(math.floor(x) + 1) + tol,
            s"parts=$parts $name q=$q x=$x")
      }
    }
  }

  test("Column-API and SQL names build identical bytes") {
    GraftExtensions.install(spark)
    val df = streamDf(8)
    val pairs: Seq[(Column, String)] = Seq(
      cm_sketch(col("k"), col("w")) -> "cm_sketch_fast(k, w)",
      cm_sketch(col("k"), col("w"), 1e-3, 0.05, 7L) -> "cm_sketch(k, w, 1e-3, 0.05, 7)",
      hll_sketch(col("k"), p = 12) -> "hll_sketch_fast(k, 12)",
      hll_sketch(col("k")) -> "hll_sketch(k)",
      cs_sketch(col("k"), col("w")) -> "cs_sketch(k, w)",
      bloom_sketch(col("k"), expectedItems = 1 << 20) -> "bloom_sketch(k)")
    pairs.foreach { case (c, call) => assert(sameBytes(bytes(df, c), sqlBytes(df, call)), call) }
    // merge-order-dependent kinds: compare on one partition in stream order
    val one = stream.toDF("k", "w").coalesce(1)
    val ordered: Seq[(Column, String)] = Seq(
      cm_topk(col("k"), col("w"), capacity = 1024) -> "cm_topk(k, w)",
      cm_topk(col("k"), col("w"), capacity = 4096) -> "topk_sketch_fast(k, w)",
      mg_sketch(col("k"), col("w"), capacity = 1024) -> "mg_sketch(k, w)",
      fss_sketch(col("k"), col("w"), numEntries = 1024) -> "fss_sketch(k, w)",
      kll_sketch(col("w")) -> "kll_sketch(cast(w AS double))",
      tdigest_sketch(col("w")) -> "tdigest_sketch(w)")
    ordered.foreach { case (c, call) => assert(sameBytes(bytes(one, c), sqlBytes(one, call)), call) }
  }

  test("a build over empty input returns the serialized empty sketch") {
    val empty = Seq.empty[(String, Long)].toDF("k", "w")
    val cases: Seq[(Column, Array[Byte])] = Seq(
      cm_sketch(col("k"), col("w")) -> CountMinSketch.fromErrorBounds(1e-4, 0.01).serialize(),
      cm_topk(col("k"), col("w"), capacity = 16) -> TopKSketch(16, 1e-4, 0.01).serialize(),
      cs_sketch(col("k"), col("w")) -> CountSketch(5, 4096).serialize(),
      mg_sketch(col("k"), col("w"), capacity = 16) -> MisraGries(16).serialize(),
      fss_sketch(col("k"), col("w"), numEntries = 16) -> FilteredSpaceSaving(16, 4096).serialize(),
      hll_sketch(col("k")) -> HyperLogLog(14).serialize(),
      bloom_sketch(col("k"), expectedItems = 100) -> BloomFilter.fromExpected(100, 0.01).serialize(),
      kll_sketch(col("w")) -> KllSketch(200).serialize(),
      tdigest_sketch(col("w")) -> TDigest(100.0).serialize())
    cases.zipWithIndex.foreach { case ((c, want), i) =>
      assert(sameBytes(bytes(empty, c), want), s"case $i")
    }
  }

  test("cm_merge, hll_merge and kll_merge over zero rows or all-null rows return null") {
    val none = Seq.empty[Array[Byte]].toDF("sk")
    val nulls = Seq[Array[Byte]](null, null).toDF("sk")
    for (df <- Seq(none, nulls); merge <- Seq(cm_merge _, hll_merge _, kll_merge _))
      assert(df.agg(merge(col("sk"))).head().isNullAt(0))
  }

  test("null keys and values are skipped") {
    val rows = Seq(("a", 2L), (null, 5L), ("b", 1L), (null, 7L))
    val withNulls = rows.toDF("k", "w")
    val without = rows.filter(_._1 != null).toDF("k", "w")
    val builds = Seq[Column => Column](
      cm_sketch(_, col("w")), cm_topk(_, col("w"), capacity = 4), cs_sketch(_, col("w")),
      mg_sketch(_, col("w"), capacity = 4), fss_sketch(_, col("w"), numEntries = 4),
      hll_sketch(_), bloom_sketch(_, expectedItems = 100))
    builds.zipWithIndex.foreach { case (b, i) =>
      assert(sameBytes(bytes(withNulls, b(col("k"))), bytes(without, b(col("k")))), s"build $i")
    }
    val xs = Seq(Some(1.5), None, Some(2.5)).toDF("x")
    val present = Seq(1.5, 2.5).toDF("x")
    for (b <- Seq[Column => Column](kll_sketch(_), tdigest_sketch(_)))
      assert(sameBytes(bytes(xs, b(col("x"))), bytes(present, b(col("x")))))
  }

  test("a null weight counts as 1") {
    // the deleted Kryo udaf path counted a null weight as 0 (its tuple
    // encoder unboxed null to 0L); the SQL build always counted it as 1
    NativeCountMinAgg.register(spark, eps = 1e-3, delta = 0.01)
    val df = Seq(("a", Some(2L)), ("a", None), ("b", None)).toDF("k", "w")
    val viaSql = CountMinSketch.deserialize(sqlBytes(df, "cm_sketch_fast(k, w)"))
    val viaColumn = CountMinSketch.deserialize(bytes(df, cm_sketch(col("k"), col("w"), eps = 1e-3)))
    for (cm <- Seq(viaSql, viaColumn)) {
      assert(cm.query("a") === 3L && cm.query("b") === 1L && cm.totalWeight === 4L)
    }
  }

  test("cm_merge fed HLL bytes fails with IllegalArgumentException") {
    val hll = bytes(Seq("a", "b").toDF("k"), hll_sketch(col("k")))
    val e = intercept[Exception](Seq(hll).toDF("sk").agg(cm_merge(col("sk"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
  }

  test("sketch_merge dispatches on the tag and rejects mixed kinds") {
    val df = streamDf(8).withColumn("g", pmod(xxhash64(col("k")), lit(4)))
    val cmShards = df.groupBy("g").agg(cm_sketch(col("k"), col("w")).as("sk"))
    val hllShards = df.groupBy("g").agg(hll_sketch(col("k")).as("sk"))
    assert(sameBytes(bytes(cmShards, sketch_merge(col("sk"))), bytes(df, cm_sketch(col("k"), col("w")))))
    assert(sameBytes(bytes(hllShards, sketch_merge(col("sk"))), bytes(df, hll_sketch(col("k")))))
    val e = intercept[Exception](
      cmShards.union(hllShards).coalesce(1).agg(sketch_merge(col("sk"))).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalArgumentException]), e.toString)
  }

  test("Column-API builders coerce inputs: keys to string, weights to long, values to double") {
    val df = stream.toDF("k", "w").repartition(8)
      .withColumn("wi", col("w").cast("int")).withColumn("n", length(col("k")).cast("long"))
    assert(sameBytes(bytes(df, cm_sketch(col("k"), col("wi"))), bytes(df, cm_sketch(col("k"), col("w")))))
    assert(sameBytes(bytes(df, hll_sketch(col("n"))), bytes(df, hll_sketch(col("n").cast("string")))))
    val one = df.coalesce(1)
    assert(sameBytes(bytes(one, kll_sketch(col("wi"))), bytes(one, kll_sketch(col("w").cast("double")))))
  }

  test("native aggregate works in groupBy and skips nulls") {
    GraftExtensions.install(spark)
    NativeCountMinAgg.register(spark, eps = 1e-3, delta = 0.01)
    val df = Seq(("g1", "a", 1L), ("g1", null, 5L), ("g2", "b", 2L), ("g1", "a", 3L))
      .toDF("g", "k", "w")
    df.createOrReplaceTempView("native_groups_v")
    val rows = spark.sql(
      "SELECT g, cm_query(cm_sketch_fast(k, w), 'a') AS est FROM native_groups_v GROUP BY g ORDER BY g")
      .as[(String, Long)].collect()
    assert(rows.toSeq === Seq(("g1", 4L), ("g2", 0L)))
  }
}
