package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._
import graft.data.{CorpusGenerator, SketchCheckpoint}
import graft.sketch.{CountMinSketch, HyperLogLog, KllSketch, TDigest, TopKSketch}

/**
 * One benchmark run: set up, warm up with every output checked, then a
 * closed loop with one client (this thread) until `--seconds` have passed
 * and at least [[Main.MinCycles]] cycles ran. Each cycle runs, in order:
 *
 *  - the seven global sketch builds and the zero-sketch scan anchor;
 *  - the rollup: a grouped CM build, a 16-shard checkpoint build, and the
 *    merges of the shard and group sketches;
 *  - the bulk `cm_probe` and a share of the 100-key SQL probe batches.
 *
 * A traced run then makes one pass over the 19 gate queries and runs the
 * kernel microbenchmark. The workload only changes the generated keys (see
 * [[Workload]]), so every run reports every end-to-end metric. Writes
 * `result.json` (and, traced, `spans.jsonl` and the gate results) into
 * `--out`.
 */
object Main {
  val Rows = 1500000L
  val ProbeKeys = 3000000L
  val BatchKeys = 100
  /** 40 batches leave 10 samples beyond the 75th percentile. */
  val MinBatches = 40
  val TailPct = 75
  val MinCycles = 4
  val Shards = 16
  val SetupReps = 3
  val Eps = 1e-4
  val XlEps = 1e-5
  val Delta = 0.01
  val TopkCapacity = 4096
  val HllP = 14
  val KllK = 200
  val TDigestCompression = 100.0
  /** Keys sampled from the exact counts for the ε·N check. */
  val SampledKeys = 2000
  val KernelStream = 1 << 20

  val GateBatch = Seq("q01_cm_point_event_type", "q02_cm_topk_users",
    "q03_cm_bound_partkeys", "q04_cm_salted_lang", "q05_hll_users",
    "q06_hll_multi", "q07_bloom_orders", "q08_kll_price", "q09_kll_nchars",
    "q10_tdigest_price", "q42_replicated_min", "q85_heavy_change",
    "q16_dedup_minhash", "q17_dedup_simhash", "q18_ngram_jaccard",
    "q55_ngram_jaccard_prefix")
  val GateStreaming = Seq("q78_stream_topk", "q90_stream_kll",
    "q82_stream_incr_dedup")
  /** Fewest undisturbed samples an end-to-end median is taken over. */
  val MinClean = 3
  val MaxExtraCycles = 1
  val BuildPaths = Seq("cm", "cm_sql", "cm_xl", "topk", "hll", "kll", "tdigest")
  val AggPaths = BuildPaths ++ Seq("grouped", "probe_bulk", "probe_sql")
  val CyclePaths = BuildPaths ++ Seq("grouped", "ckpt", "rollup", "probe_bulk")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val out = Paths.get(opts("out"))
    val gateDir = opts("data")
    Files.createDirectories(out)
    new Run(workload, seed, seconds, traced, out, gateDir).run()
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    if (p == 50 && s.size % 2 == 0) (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    else s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
  }
}

/**
 * The generated input. Both workloads draw their rows from
 * [[CorpusGenerator.keyed]] (its 20 geometric languages and, here, a
 * seeded weight in 1..100) and differ only in the keys:
 *
 *  - `zipf`: the generator's own log-uniform ranks over 100k tokens, with a
 *    seed-derived suffix. A small hot head carries most rows, so a
 *    pre-aggregation or a hot-counter cache has work to save.
 *  - `distinct`: a seeded 40-bit hash per row, so almost every key occurs
 *    once and such a mechanism is bypassed.
 *
 * Probe keys: 9 in 10 are keys of the corpus (drawn like its rows), the
 * rest are misses.
 */
sealed abstract class Workload(val name: String) {
  def corpus(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame
  def probeKeys(spark: SparkSession, seed: Long, keys: Long, rows: Long, parts: Int): DataFrame

  protected def weight(seed: Long): Column =
    (pmod(xxhash64(col("id"), lit(seed)), lit(100L)) + 1L).as("weight")
  protected def miss(seed: Long): Column =
    pmod(xxhash64(col("id"), lit(seed + 1)), lit(10L)) === 0L
}

object Workload {
  def apply(name: String): Workload = name match {
    case "zipf" => Zipf
    case "distinct" => Distinct
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  object Zipf extends Workload("zipf") {
    private def suffix(seed: Long) = lit(f"_${seed & 0xffff}%04x")
    def corpus(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
      CorpusGenerator.keyed(spark, rows, parts)
        .select(concat(col("token"), suffix(seed)).as("token"), col("lang"), weight(seed))
    def probeKeys(spark: SparkSession, seed: Long, keys: Long, rows: Long, parts: Int): DataFrame =
      CorpusGenerator.keyed(spark, keys, parts).select(
        when(miss(seed), concat(lit("miss_"), col("id")))
          .otherwise(concat(col("token"), suffix(seed))).as("key"))
  }

  object Distinct extends Workload("distinct") {
    private def token(id: Column, seed: Long) =
      concat(lit("tok_"), pmod(xxhash64(id, lit(seed)), lit(1L << 40)).cast("string"))
    def corpus(spark: SparkSession, seed: Long, rows: Long, parts: Int): DataFrame =
      CorpusGenerator.keyed(spark, rows, parts)
        .select(token(col("id"), seed).as("token"), col("lang"), weight(seed))
    def probeKeys(spark: SparkSession, seed: Long, keys: Long, rows: Long, parts: Int): DataFrame =
      spark.range(0L, keys, 1L, parts).select(
        when(miss(seed), concat(lit("miss_"), col("id")))
          .otherwise(token(pmod(xxhash64(col("id"), lit(seed + 2)), lit(rows)), seed))
          .as("key"))
  }
}

/** Counts every checked operation; a failure is logged with its exception
  * class and message and never turns into a number. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def fail(what: String, why: String): Unit = {
    failed += 1
    failures += s"$what: $why"
    System.err.println(s"[perfbench] FAIL $what: $why")
  }

  /** Run `f` and check its result with `verify` (None = correct). */
  def apply[T](what: String)(f: => T)(verify: T => Option[String]): Option[T] = {
    attempted += 1
    try {
      val r = f
      verify(r) match {
        case Some(why) => fail(what, why); None
        case None => Some(r)
      }
    } catch {
      case e: Throwable => fail(what, s"${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

}

/** Exact answers computed once in set-up. */
final case class Truth(
    rows: Long,
    totalWeight: Long,
    distinctKeys: Long,
    perLang: Map[String, Long],
    weightHist: Array[Long],
    sampled: Map[String, Long]) {

  /** Does `v` answer quantile `q` of the weights within rank error `tol`? */
  def rankOk(v: Double, q: Double, tol: Double): Boolean = {
    def le(x: Long) = weightHist.take(math.max(0, math.min(101L, x + 1)).toInt).sum.toDouble / rows
    val lo = le(math.ceil(v).toLong - 1) // P(W < v)
    val hi = le(math.floor(v).toLong) // P(W <= v)
    lo - tol <= q && q <= hi + tol
  }
}

final class Run(workload: Workload, seed: Long, seconds: Double, traced: Boolean,
    out: Path, gateDir: String) {
  import Main._

  private val t0 = System.nanoTime()
  private val cores = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
  private val spark = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", out.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  graft.GraftExtensions.install(spark)
  private val sessionStartS = (System.nanoTime() - t0) / 1e9

  private val checks = new Checks
  private val rec = new Recorder(spark.sparkContext, traced, cores)
  @volatile private var currentGate = ""
  private val tasks = new TaskListener
  private val streams = new StreamListener(() => currentGate)
  if (traced) {
    spark.sparkContext.addSparkListener(tasks)
    spark.streams.addListener(streams)
  }

  private var corpus: DataFrame = _
  private var probeKeys: DataFrame = _
  private var truthDf: DataFrame = _
  private var truth: Truth = _
  private var groupHll: DataFrame = _
  private var groupKll: DataFrame = _
  private var batches: Array[Array[String]] = _
  private var probe: Column => Column = _

  // reference outputs, set and checked against the exact answers in warm-up
  private var refCm: Array[Byte] = _
  private var refXl: Array[Byte] = _
  private var refHll: Array[Byte] = _
  private var refScan: Long = 0L
  private var refProbeSum: Long = 0L
  private var refCmSketch: CountMinSketch = _
  private var lastGroups: Array[(String, Array[Byte])] = _
  private var ckptCount = 0
  private var ckptBytes = 0L

  private def bytesOf(df: DataFrame): Array[Byte] = df.head().getAs[Array[Byte]](0)

  /** Set-up steps log their time to the run's log. */
  private def step[T](name: String)(f: => T): T = {
    val s0 = System.nanoTime()
    try f
    finally System.err.println(f"[perfbench] $name ${(System.nanoTime() - s0) / 1e9}%.2fs")
  }

  // ---- set-up

  /** Generate and cache the corpus; returns its seconds. */
  private def generateCorpus(): Double = {
    if (corpus != null) corpus.unpersist(true)
    val c0 = System.nanoTime()
    corpus = workload.corpus(spark, seed, Rows, cores).cache()
    corpus.count()
    (System.nanoTime() - c0) / 1e9
  }

  /** Cache the probe keys and compute the exact answers from the corpus. */
  private def deriveInputs(): Unit = {
    corpus.createOrReplaceTempView("pb_corpus")
    probeKeys = workload.probeKeys(spark, seed, ProbeKeys, Rows, cores).cache()
    step("probe keys")(probeKeys.count())
    truthDf = corpus.groupBy("token").agg(sum("weight").as("n")).cache()
    val distinct = step("exact counts")(truthDf.count())
    val perLang = corpus.groupBy("lang").agg(sum("weight")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hist = new Array[Long](101)
    corpus.groupBy("weight").count().collect()
      .foreach(r => hist(r.getLong(0).toInt) = r.getLong(1))
    val heavy = truthDf.orderBy(desc("n"), col("token")).limit(20)
    val sampled = truthDf.orderBy(xxhash64(col("token"), lit(seed))).limit(SampledKeys)
      .union(heavy).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    truth = Truth(hist.sum, perLang.values.sum, distinct, perLang, hist, sampled)
    val groups = step("group sketches")(corpus.groupBy("lang").agg(
      hll_sketch(col("token"), p = HllP).as("hll"),
      kll_sketch(col("weight").cast("double"), k = KllK).as("kll")).collect())
    import spark.implicits._
    groupHll = groups.map(r => r.getAs[Array[Byte]]("hll")).toSeq.toDF("sk")
    groupKll = groups.map(r => r.getAs[Array[Byte]]("kll")).toSeq.toDF("sk")
    batches = probeKeys.limit(BatchKeys * MinBatches).collect().map(_.getString(0))
      .grouped(BatchKeys).toArray
  }

  // ---- checks against the exact answers

  private def cmBound(bytes: Array[Byte], eps: Double): Option[String] = {
    val cm = CountMinSketch.deserialize(bytes)
    if (cm.totalWeight != truth.totalWeight)
      return Some(s"N = ${cm.totalWeight}, expected Σweight = ${truth.totalWeight}")
    val under = truth.sampled.collect { case (k, n) if cm.query(k) < n => k }
    if (under.nonEmpty) return Some(s"estimate below the true count for ${under.take(3)}")
    val slack = eps * cm.totalWeight
    val over = truth.sampled.count { case (k, n) => cm.query(k) > n + slack }
    if (over > Delta * truth.sampled.size)
      Some(s"$over of ${truth.sampled.size} keys exceed true + ε·N (ε = $eps)")
    else None
  }

  private def hllBound(bytes: Array[Byte]): Option[String] = {
    val hll = HyperLogLog.deserialize(bytes)
    val err = math.abs(hll.estimate() - truth.distinctKeys) / truth.distinctKeys
    // 4 standard errors: a false alarm about once in 15000 runs
    if (err > 4 * hll.standardError)
      Some(f"relative error $err%.4f > 4σ = ${4 * hll.standardError}%.4f")
    else None
  }

  private val Quantiles = Seq(0.1, 0.5, 0.9)

  private def kllBound(bytes: Array[Byte]): Option[String] = {
    val kll = KllSketch.deserialize(bytes)
    if (kll.n != truth.rows) return Some(s"n = ${kll.n}, expected ${truth.rows}")
    Quantiles.find(q => !truth.rankOk(kll.quantile(q), q, kll.rankError))
      .map(q => s"quantile($q) = ${kll.quantile(q)} outside rank error ${kll.rankError}")
  }

  /** t-digest publishes no hard bound; 1% rank error at compression 100. */
  private def tdigestBound(bytes: Array[Byte]): Option[String] = {
    val td = TDigest.deserialize(bytes)
    if (td.totalWeight != truth.rows.toDouble)
      return Some(s"total weight ${td.totalWeight}, expected ${truth.rows}")
    Quantiles.find(q => !truth.rankOk(td.quantile(q), q, 0.01))
      .map(q => s"quantile($q) = ${td.quantile(q)} outside 1% rank error")
  }

  private def topkBound(bytes: Array[Byte]): Option[String] = {
    val tk = TopKSketch.deserialize(bytes)
    if (tk.totalWeight != truth.totalWeight)
      return Some(s"N = ${tk.totalWeight}, expected ${truth.totalWeight}")
    val top = tk.topK(20)
    val exact = truthDf.filter(col("token").isin(top.map(_._1): _*)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    top.find { case (k, est) => est < exact.getOrElse(k, Long.MaxValue) }
      .map { case (k, est) => s"heavy hitter $k: estimate $est below ${exact.get(k)}" }
  }

  private def same(want: => Array[Byte])(got: Array[Byte]): Option[String] =
    if (java.util.Arrays.equals(got, want)) None
    else Some(s"bytes differ from the reference (${got.length} vs ${want.length})")

  // ---- measured operations

  private def build(path: String, col: Column): Array[Byte] =
    rec.time(path, "agg")(bytesOf(corpus.agg(col)))

  /** In warm-up (`warm`) each build is checked against the exact answers
    * and becomes the reference; later samples must reproduce it. */
  private def builds(warm: Boolean): Unit = {
    def reference(bound: Array[Byte] => Option[String], keep: Array[Byte] => Unit,
        ref: => Array[Byte]): Array[Byte] => Option[String] =
      if (warm) b => { keep(b); bound(b) } else same(ref)
    checks("cm")(build("cm", cm_sketch(col("token"), col("weight"), Eps, Delta)))(
      reference(cmBound(_, Eps), refCm = _, refCm))
    checks("cm_sql")(rec.time("cm_sql", "agg")(
      bytesOf(spark.sql("SELECT cm_sketch_fast(token, weight) FROM pb_corpus"))))(
      same(refCm))
    checks("cm_xl")(build("cm_xl", cm_sketch(col("token"), col("weight"), XlEps, Delta)))(
      reference(cmBound(_, XlEps), refXl = _, refXl))
    checks("topk")(build("topk",
      cm_topk(col("token"), col("weight"), TopkCapacity, Eps, Delta)))(topkBound)
    checks("hll")(build("hll", hll_sketch(col("token"), p = HllP)))(
      reference(hllBound, refHll = _, refHll))
    checks("kll")(build("kll", kll_sketch(col("weight").cast("double"), k = KllK)))(kllBound)
    checks("tdigest")(build("tdigest",
      tdigest_sketch(col("weight").cast("double"), TDigestCompression)))(tdigestBound)
    checks("scan")(rec.time("scan", "spark")(
      corpus.agg(expr("bit_xor(xxhash64(token))")).head().getLong(0))) { v =>
      if (warm) refScan = v
      if (v == refScan) None else Some(s"scan fingerprint $v != $refScan")
    }
  }

  private def rollup(): Unit = {
    checks("grouped")(rec.time("grouped", "agg")(
      corpus.groupBy("lang").agg(cm_sketch(col("token"), col("weight"), Eps, Delta))
        .collect().map(r => r.getString(0) -> r.getAs[Array[Byte]](1)))) { groups =>
      val wrong = groups.collect {
        case (lang, b) if CountMinSketch.deserialize(b).totalWeight != truth.perLang(lang) => lang
      }
      if (groups.length != truth.perLang.size) Some(s"${groups.length} groups, expected ${truth.perLang.size}")
      else if (wrong.nonEmpty) Some(s"group N differs from its Σweight for ${wrong.toSeq}")
      else None
    }.foreach(lastGroups = _)

    val dir = out.resolve(s"ckpt-$ckptCount").toString
    ckptCount += 1
    checks("ckpt")(rec.time("ckpt", "data")(
      SketchCheckpoint.buildShards(corpus, "token", "weight", Shards, dir, Eps, Delta))) { done =>
      val committed = SketchCheckpoint.committedShards(dir)
      if (done != (0 until Shards).toSet || committed != done)
        Some(s"built $done, committed $committed")
      else None
    }
    ckptBytes = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum

    import spark.implicits._
    val groupCm = lastGroups.map(_._2).toSeq.toDF("sk")
    checks("rollup_merge")(rec.time("rollup", "data")(
      (SketchCheckpoint.mergeShards(spark, dir),
        bytesOf(groupCm.agg(cm_merge(col("sk")))),
        bytesOf(groupHll.agg(hll_merge(col("sk")))),
        bytesOf(groupKll.agg(kll_merge(col("sk"))))))) { case (shards, cm, hll, kll) =>
      same(refCm)(shards).map("merged shards: " + _)
        .orElse(same(refCm)(cm).map("merged group CMs: " + _))
        .orElse(same(refHll)(hll).map("merged group HLLs: " + _))
        // KLL compaction depends on merge order: check its bound, not bytes
        .orElse(kllBound(kll).map("merged group KLLs: " + _))
    }
    Files.walk(Paths.get(dir)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
  }

  private def probeBulk(): Unit =
    checks("probe_bulk")(rec.time("probe_bulk", "agg")(
      probeKeys.agg(sum(probe(col("key")))).head().getLong(0)))(
      s => if (s == refProbeSum) None else Some(s"estimate sum $s != $refProbeSum"))

  private var batchIdx = 0

  private def probeBatch(): Unit = {
    val keys = batches(batchIdx % batches.length)
    batchIdx += 1
    import spark.implicits._
    checks("probe_sql")(rec.time("probe_sql", "agg") {
      keys.toSeq.toDF("key").createOrReplaceTempView("pb_keys")
      spark.sql("SELECT /*+ BROADCAST(s) */ k.key, cm_query_sketch(s.sk, k.key) " +
        "FROM pb_keys k CROSS JOIN pb_sketch s").collect()
    }) { rows =>
      val bad = rows.filter(r => r.getLong(1) != refCmSketch.query(r.getString(0)))
      if (rows.length != keys.length) Some(s"${rows.length} rows for ${keys.length} keys")
      else if (bad.nonEmpty) Some(s"SQL probe disagrees with cm_probe for ${bad.head}")
      else None
    }
  }

  /** One pass over the gate queries, each timed while it writes its result
    * for the DuckDB oracle check. It runs in traced runs only, where its
    * per-query and per-batch figures are per-layer metrics. */
  private def gate(): Unit = {
    val dump = out.resolve("gate")
    (GateBatch ++ GateStreaming).foreach { q =>
      currentGate = q
      val layer = if (GateStreaming.contains(q)) "streaming" else "queries"
      checks(q)(rec.time(q, layer)(graft.SparkEntry.queries(q)(spark, gateDir)
        .write.mode("overwrite").parquet(dump.resolve(q).toString)))(_ => None)
      // a query's persisted intermediates serve that query only
      spark.catalog.clearCache()
    }
    streams.settle()
    val oracle = (GateBatch ++ GateStreaming).map(q => q -> graft.SparkEntry.oracleSql.get(q))
    oracle.collect { case (q, None) => checks.fail(q, "no oracle SQL") }
    Files.writeString(dump.resolve("oracle_sql.json"), Json.obj(oracle.collect {
      case (q, Some(sql)) => q -> Json.str(sql)
    }))
  }

  /** Untimed first cycle: JIT and codegen, and the reference outputs, each
    * checked against the exact answers. */
  private def warmUp(): Unit = {
    step("warm builds")(builds(warm = true))
    refCmSketch = CountMinSketch.deserialize(refCm)
    import spark.implicits._
    val sketchRow = Seq(refCm).toDF("sk")
    sketchRow.createOrReplaceTempView("pb_sketch")
    probe = cm_probe(sketchRow)
    refProbeSum = step("probe reference")(
      probeKeys.agg(sum(probe(col("key")))).head().getLong(0))
    checks("probe agreement")(batches.head.toSeq.toDF("key")
      .select(col("key"), probe(col("key"))).collect()) { rows =>
      rows.find(r => r.getLong(1) != refCmSketch.query(r.getString(0)))
        .map(r => s"cm_probe disagrees with the decoded sketch for $r")
    }
    step("warm rollup")(rollup())
    step("warm probe")(probeBulk())
    step("warm batch")(probeBatch())
  }

  private def cycle(): Unit = {
    System.gc() // each cycle starts from a collected heap, outside any timing
    builds(warm = false)
    rollup()
    probeBulk()
    (1 to (MinBatches + MinCycles - 1) / MinCycles).foreach(_ => probeBatch())
  }

  // ---- the run

  def run(): Unit = {
    // the corpus is set up several times and its median counted, so that
    // set-up time is steady enough to compare
    val corpusS = (1 to SetupReps).map(_ => generateCorpus())
    val d0 = System.nanoTime()
    deriveInputs()
    warmUp()
    val setupS = sessionStartS + median(corpusS) + (System.nanoTime() - d0) / 1e9
    System.err.println(f"[perfbench] session $sessionStartS%.2fs, corpus " +
      corpusS.map(x => f"$x%.2f").mkString("/") + f"s, set-up $setupS%.2fs")

    rec.clear()
    rec.tagPrefix = "run/"
    val start = System.nanoTime()
    var cycles = 0
    while (cycles < MinCycles || (System.nanoTime() - start) / 1e9 < seconds) {
      cycle()
      cycles += 1
    }
    // replace samples that steal disturbed, within a bounded extra time
    var extra = 0
    while (extra < MaxExtraCycles && CyclePaths.exists(rec.cleanCount(_) < MinClean)) {
      cycle()
      extra += 1
    }
    while (rec.cleanCount("probe_sql") < MinBatches &&
      rec.samples("probe_sql").size < 2 * MinBatches) probeBatch()
    rec.samples.foreach { case (p, xs) =>
      System.err.println(s"[perfbench] sample $p " + xs.map(x => f"$x%.3f").mkString(" "))
    }
    System.err.println(s"[perfbench] steal " + rec.stealShares.map { case (p, xs) =>
      s"$p=" + xs.map(x => f"$x%.3f").mkString("/") }.mkString(" "))
    System.err.println(f"[perfbench] $cycles+$extra cycles in ${(System.nanoTime() - start) / 1e9}%.1fs")

    val e2e = endToEnd(setupS)
    val layers = if (traced) {
      step("gate")(gate())
      val keys = corpus.select("token", "weight").limit(KernelStream).collect()
      perLayer(corpusS) ++
        Kernels.run(keys.map(_.getString(0)), keys.map(_.getLong(1)))
    } else Nil
    if (traced) rec.writeSpans(out.resolve("spans.jsonl"))
    Files.writeString(out.resolve("result.json"), Json.obj(Seq(
      "attempted" -> checks.attempted.toString,
      "failed" -> checks.failed.toString,
      "failures" -> Json.arr(checks.failures.map(Json.str).toSeq),
      "cycles" -> (cycles + extra).toString,
      "end_to_end" -> Json.metrics(e2e),
      "per_layer" -> Json.metrics(layers))))
    spark.stop()
  }

  private def samples(path: String): Seq[Double] = rec.samples.getOrElse(path, Nil).toSeq

  private def endToEnd(setupS: Double): Seq[(String, Double, String)] = {
    def clean(path: String) = rec.clean(path, MinClean)
    def mrows(path: String, n: Long) = n / median(clean(path)) / 1e6
    Seq(
      ("setup_s", setupS, "s"),
      ("cm_build_mrows_s", mrows("cm", Rows), "Mrows/s"),
      ("cm_sql_build_mrows_s", mrows("cm_sql", Rows), "Mrows/s"),
      ("cm_xl_build_mrows_s", mrows("cm_xl", Rows), "Mrows/s"),
      ("topk_build_mrows_s", mrows("topk", Rows), "Mrows/s"),
      ("hll_build_mrows_s", mrows("hll", Rows), "Mrows/s"),
      ("kll_build_mrows_s", mrows("kll", Rows), "Mrows/s"),
      ("tdigest_build_mrows_s", mrows("tdigest", Rows), "Mrows/s"),
      ("grouped_build_s", median(clean("grouped")), "s"),
      ("ckpt_build_s", median(clean("ckpt")), "s"),
      ("rollup_merge_s", median(clean("rollup")), "s"),
      ("probe_mkeys_s", mrows("probe_bulk", ProbeKeys), "Mkeys/s"),
      ("probe_batch_p50_ms", 1000 * median(rec.clean("probe_sql", MinBatches)), "ms"),
      (s"probe_batch_p${TailPct}_ms",
        1000 * percentile(rec.clean("probe_sql", MinBatches), TailPct), "ms"))
  }

  private def perLayer(corpusGenS: Seq[Double]): Seq[(String, Double, String)] = {
    tasks.settle()
    val agg = AggPaths.flatMap { path =>
      val per = samples(path).indices.map(i => tasks.totals.getOrElse(s"run/$path#$i", new TaskTotals))
      def m(f: TaskTotals => Double) = median(per.map(f))
      Seq(
        (s"agg.$path.run_ms", m(_.runMs.toDouble), "ms"),
        (s"agg.$path.cpu_ms", m(_.cpuMs), "ms"),
        (s"agg.$path.gc_ms", m(_.gcMs.toDouble), "ms"),
        (s"agg.$path.shuffle_write_bytes", m(_.shuffleWriteBytes.toDouble), "bytes"),
        (s"agg.$path.task_max_ms", m(_.taskMaxMs.toDouble), "ms"))
    } ++ BuildPaths.map { path =>
      (s"agg.$path.scan_ratio",
        median(samples("scan").zip(samples(path)).map { case (s, p) => s / p }), "ratio")
    }
    val data = Seq(
      ("data.corpus_gen_s", median(corpusGenS), "s"),
      ("data.ckpt_bytes", ckptBytes.toDouble, "bytes"),
      ("data.ckpt_shards", Shards.toDouble, "count"),
      ("data.merge_input_sketches",
        (Shards + lastGroups.length + groupHll.count() + groupKll.count()).toDouble, "count"))
    def qnn(q: String) = q.takeWhile(_ != '_')
    val queries = GateBatch.map(q => (s"queries.${qnn(q)}_s", median(samples(q)), "s"))
    val streaming = GateStreaming.flatMap { q =>
      val batches = streams.batches.getOrElse(q, Nil).toSeq
      def phase(key: String) = median(batches.map(_.getOrElse(key, 0L).toDouble))
      val n = s"streaming.${qnn(q)}"
      Seq(
        (s"$n.wall_s", median(samples(q)), "s"),
        (s"$n.batches", batches.size.toDouble, "count"),
        (s"$n.batch_p50_ms", phase("triggerExecution"), "ms"),
        (s"$n.add_batch_ms", phase("addBatch"), "ms"),
        (s"$n.query_planning_ms", phase("queryPlanning"), "ms"),
        (s"$n.wal_commit_ms", phase("walCommit"), "ms"))
    }
    val scan = Seq(("spark.scan_mrows_s", Rows / median(samples("scan")) / 1e6, "Mrows/s"))
    agg ++ data ++ queries ++ streaming ++ scan
  }
}

/** Just enough JSON writing for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def metrics(ms: Seq[(String, Double, String)]): String = obj(ms.map {
    case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u)))
  })
}
