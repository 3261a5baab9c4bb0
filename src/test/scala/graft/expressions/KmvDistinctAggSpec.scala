package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class KmvDistinctAggSpec extends SparkSpec {
  import spark.implicits._

  test("exact below k: sketch equals countDistinct") {
    val df = spark.range(5000).select(
      (col("id") % 10).as("g"), (col("id") % 1000).as("v"))
    val rows = df.groupBy("g")
      .agg(Sketches.kmv_distinct(col("v"), 256).as("approx"),
        countDistinct(col("v")).as("exact"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, approx, exact) =>
      assert(exact < 256 && approx == exact,
        s"below-k estimate must be exact: $approx vs $exact")
    }
  }

  test("partial merge across partitions equals single-partition result") {
    val df = spark.range(200000)
      .select((col("id") % 4).as("g"), (col("id") % 37777).as("v"))
    def run(parts: Int) = df.repartition(parts).groupBy("g")
      .agg(Sketches.kmv_distinct(col("v"), 256).as("a"))
      .as[(Long, Long)].collect().toMap
    val one = run(1)
    val many = run(32)
    assert(one == many, "sketch must be merge-invariant")
  }

  test("estimator accuracy ~ 1/sqrt(k) past k") {
    val df = spark.range(150000).select(lit(0L).as("g"),
      (col("id") % 98765).as("v"))
    val Array((_, approx, exact)) = df.groupBy("g")
      .agg(Sketches.kmv_distinct(col("v"), 256).as("a"),
        countDistinct(col("v")).as("e"))
      .as[(Long, Long, Long)].collect()
    val relErr = math.abs(approx.toDouble - exact) / exact
    assert(relErr < 0.25, s"relative error $relErr (approx=$approx exact=$exact)")
  }

  test("state rollup merges losslessly: split-merge equals single-pass") {
    val df = spark.range(120000).select(
      (col("id") % 3).as("g"), (col("id") % 11).as("part"),
      (col("id") % 23456).as("v"))
    val direct = df.groupBy("g")
      .agg(Sketches.kmv_distinct(col("v"), 256).as("a"))
      .as[(Long, Long)].collect().toMap
    val rolled = df.groupBy("g", "part")
      .agg(Sketches.kmv_state(col("v"), 256).as("sk"))
      .groupBy("g")
      .agg(Sketches.kmv_merge_est(col("sk")).as("a"))
      .as[(Long, Long)].collect().toMap
    assert(direct == rolled, "KMV rollup must be lossless")
  }

  test("merging sketches of different k is an error, not a coercion") {
    val df = spark.range(1000).select((col("id") % 2).as("g"),
      col("id").as("v"))
    val mixed = df.groupBy("g")
      .agg(when(col("g") === 0, Sketches.kmv_state(col("v"), 64))
        .otherwise(Sketches.kmv_state(col("v"), 128)).as("sk"))
      .agg(Sketches.kmv_merge_est(col("sk")))
    val e = intercept[Exception] { mixed.collect() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("mixed sketch")))
  }

  test("kmv_distinct is SQL-visible with literal-k validation") {
    graft.GraftFunctions.install(spark)
    spark.range(1000).select((col("id") % 200).as("v"))
      .createOrReplaceTempView("kmv_in")
    val est = spark.sql(
      "SELECT kmv_distinct(v, 256) FROM kmv_in").head().getLong(0)
    assert(est == 200L) // below k -> exact
    intercept[Exception] {
      spark.sql("SELECT kmv_distinct(v, v) FROM kmv_in").head()
    }
  }
}
