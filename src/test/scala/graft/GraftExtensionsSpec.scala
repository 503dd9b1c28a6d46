package graft

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._
import graft.agg.SketchFunctions._

/** The SQL function surface (GraftExtensions): native build + native scalar
  * probes must agree bit-exactly with the Scala-API udaf/udf paths, and
  * mistyped SQL must fail at analysis. */
class GraftExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val installed: Unit = GraftExtensions.install(spark)

  private def fixture(): Unit = {
    val df = Seq.tabulate(5000)(i => (s"k${i % 37}", 1L + (i % 3))).toDF("k", "w")
    df.createOrReplaceTempView("ext_fixture")
  }

  test("cm_query_sketch over cm_sketch_fast == udaf build + udf probe") {
    installed; fixture()
    val sqlRows = spark.sql(
      """SELECT cm_query_sketch(sk, 'k1') AS est, cm_total_sketch(sk) AS n
        |FROM (SELECT cm_sketch_fast(k, w) AS sk FROM ext_fixture)""".stripMargin)
      .head()
    val df = spark.table("ext_fixture")
    val scalaRow = df.agg(cm_sketch(col("k"), col("w"), eps = 1e-4).as("sk"))
      .select(cm_query(col("sk"), lit("k1")).as("est"), cm_total(col("sk")).as("n"))
      .head()
    assert(sqlRows.getLong(0) === scalaRow.getLong(0))
    assert(sqlRows.getLong(1) === scalaRow.getLong(1))
    // exact regime sanity: 37 keys vs width 2^15 — the estimate is exact
    val truth = df.filter(col("k") === "k1").agg(sum("w")).head().getLong(0)
    assert(sqlRows.getLong(0) === truth)
  }

  test("topk_entries_sketch over topk_sketch_fast == udaf build + udf listing") {
    installed; fixture()
    val sqlRows = spark.sql(
      """SELECT e.key, e.est FROM (
        |  SELECT explode(topk_entries_sketch(sk, 10)) AS e FROM
        |    (SELECT topk_sketch_fast(k, w) AS sk FROM ext_fixture))""".stripMargin)
      .as[(String, Long)].collect().toSeq
    val scalaRows = spark.table("ext_fixture")
      .agg(cm_topk(col("k"), col("w"), capacity = 4096, eps = 1e-4).as("sk"))
      .select(explode(topk_entries(col("sk"), 10)).as("e"))
      .select(col("e.key"), col("e.est")).as[(String, Long)].collect().toSeq
    assert(sqlRows === scalaRows)
    assert(sqlRows.length === 10)
    // exact regime: estimates equal the true sums
    val truth = spark.table("ext_fixture").groupBy("k").agg(sum("w").as("t"))
      .orderBy(desc("t"), asc("k")).limit(10)
      .as[(String, Long)].collect().toSeq
    assert(sqlRows === truth)
  }

  test("literal eps/delta/seed arguments change the sketch deterministically") {
    installed; fixture()
    val a = spark.sql(
      """SELECT cm_query_sketch(sk, 'k2') FROM
        |(SELECT cm_sketch_fast(k, w, 1e-3, 0.01, 42) AS sk FROM ext_fixture)""".stripMargin)
      .head().getLong(0)
    val b = df_with_seed(42L)
    assert(a === b)
    val truth = spark.table("ext_fixture")
      .filter(col("k") === "k2").agg(sum("w")).head().getLong(0)
    assert(a === truth) // still exact at width 2^12 vs 37 keys
  }

  private def df_with_seed(seed: Long): Long =
    spark.table("ext_fixture")
      .agg(cm_sketch(col("k"), col("w"), eps = 1e-3, seed = seed).as("sk"))
      .select(cm_query(col("sk"), lit("k2"))).head().getLong(0)

  test("hll_sketch_fast literal p/seed arguments reach the aggregate") {
    installed; fixture()
    // non-default p AND seed through the extensions literal-arg builder —
    // a swapped foldNum index would build a different register file and
    // break bit-parity with the udaf built at the same (p, seed)
    val sqlBytes = spark.sql(
      "SELECT hll_sketch_fast(k, 12, 7) AS sk FROM ext_fixture")
      .head().getAs[Array[Byte]]("sk")
    val udafBytes = spark.table("ext_fixture")
      .agg(hll_sketch(col("k"), p = 12, seed = 7L).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    assert(java.util.Arrays.equals(sqlBytes, udafBytes))
    // and they genuinely differ from the default-(p, seed) build
    val defBytes = spark.sql(
      "SELECT hll_sketch_fast(k) AS sk FROM ext_fixture")
      .head().getAs[Array[Byte]]("sk")
    assert(!java.util.Arrays.equals(sqlBytes, defBytes))
  }

  test("hll/kll SQL surface: build udafs + native probes match the Scala API") {
    installed; fixture()
    val sqlRow = spark.sql(
      """SELECT hll_count_sketch(h) AS card,
        |  kll_quantile_sketch(kl, 0.5) AS med
        |FROM (SELECT hll_sketch(k) AS h,
        |        kll_sketch(cast(w AS double)) AS kl
        |      FROM ext_fixture)""".stripMargin).head()
    val df = spark.table("ext_fixture")
    val scalaRow = df.agg(
        hll_sketch(col("k")).as("h"),
        kll_sketch(col("w").cast("double")).as("kl"))
      .select(hll_count(col("h")).as("card"),
        kll_quantile(col("kl"), lit(0.5)).as("med"))
      .head()
    assert(sqlRow.getLong(0) === scalaRow.getLong(0))
    assert(sqlRow.getDouble(1) === scalaRow.getDouble(1))
    assert(sqlRow.getLong(0) === 37L) // p=14 is exact at 37 distinct keys
  }

  test("mistyped SQL fails at analysis, not execution") {
    installed; fixture()
    val e1 = intercept[AnalysisException] {
      spark.sql("SELECT cm_query_sketch(1, 'a')").collect()
    }
    assert(e1.getMessage.contains("cm_query_sketch"))
    val e2 = intercept[AnalysisException] {
      spark.sql("SELECT cm_sketch_fast(w, w) FROM ext_fixture").collect()
    }
    assert(e2.getMessage.contains("cm_sketch_fast"))
    // a bad literal argument is reported under the function that took it
    val e3 = intercept[Exception] {
      spark.sql("SELECT topk_sketch_fast(k, w, 'many') FROM ext_fixture").collect()
    }
    assert(e3.getMessage.contains("topk_sketch_fast: capacity must be numeric"), e3.getMessage)
  }

  test("extensions class injects without error (spark-submit wiring)") {
    val injected = scala.collection.mutable.ArrayBuffer.empty[String]
    val ext = new org.apache.spark.sql.SparkSessionExtensions {
      override def injectFunction(fd: FunctionDescription): Unit = {
        injected += fd._1.funcName
        super.injectFunction(fd)
      }
    }
    new GraftExtensions().apply(ext) // must register all builders cleanly
    // and install exposes exactly the injected names, no more, no fewer
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val before = registry.listFunction().map(_.funcName).toSet
    GraftExtensions.install(fresh)
    val installed = registry.listFunction().map(_.funcName).toSet -- before
    assert(injected.toSet === installed)
    assert(injected.size === injected.toSet.size)
  }
}
