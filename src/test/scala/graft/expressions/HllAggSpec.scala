package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

class HllAggSpec extends SparkSpec {
  import spark.implicits._

  test("linear-counting regime tracks small cardinalities closely") {
    // distinct counts well under 2.5·m stay in the linear-counting
    // correction, which is near-exact at this range
    val df = spark.range(5000).select(
      (col("id") % 10).as("g"), (col("id") % 40).as("v"))
    val rows = df.groupBy("g")
      .agg(HllSketches.hll_distinct(col("v")).as("approx"),
        countDistinct(col("v")).as("exact"))
      .as[(Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (g, approx, exact) =>
      val err = math.abs(approx.toDouble - exact) / exact
      assert(err < 0.15, s"group $g: linear-counting est $approx vs $exact")
    }
  }

  test("partial merge across partitions equals single-partition result") {
    val df = spark.range(200000)
      .select((col("id") % 4).as("g"), (col("id") % 37777).as("v"))
    def run(parts: Int) = df.repartition(parts).groupBy("g")
      .agg(HllSketches.hll_distinct(col("v")).as("a"))
      .as[(Long, Long)].collect().toMap
    assert(run(1) == run(32), "sketch must be merge-invariant")
  }

  test("estimator stays inside the m=64 error envelope past the correction") {
    val df = spark.range(150000).select(lit(0L).as("g"),
      (col("id") % 98765).as("v"))
    val Array((_, approx, exact)) = df.groupBy("g")
      .agg(HllSketches.hll_distinct(col("v")).as("a"),
        countDistinct(col("v")).as("e"))
      .as[(Long, Long, Long)].collect()
    val relErr = math.abs(approx.toDouble - exact) / exact
    // 1.04/sqrt(64) ≈ 13% std error; allow 3 sigma
    assert(relErr < 0.4, s"relative error $relErr (approx=$approx exact=$exact)")
  }

  test("state rollup merges losslessly: split-merge equals single-pass") {
    val df = spark.range(120000).select(
      (col("id") % 3).as("g"), (col("id") % 11).as("part"),
      (col("id") % 23456).as("v"))
    val direct = df.groupBy("g")
      .agg(HllSketches.hll_distinct(col("v")).as("a"))
      .as[(Long, Long)].collect().toMap
    val rolled = df.groupBy("g", "part")
      .agg(HllSketches.hll_state(col("v")).as("sk"))
      .groupBy("g")
      .agg(HllSketches.hll_merge_est(col("sk")).as("a"))
      .as[(Long, Long)].collect().toMap
    assert(direct == rolled, "HLL rollup must be lossless")
  }

  test("iterated state-merge + scalar estimate equals single-pass") {
    // the HyperANF round shape: states merged round-to-round as
    // STATES (hll_merge_state), estimated once at the end by the
    // scalar hll_estimate — must equal the one-shot hll_distinct
    val df = spark.range(120000).select(
      (col("id") % 3).as("g"), (col("id") % 11).as("part"),
      (col("id") % 23456).as("v"))
    val direct = df.groupBy("g")
      .agg(HllSketches.hll_distinct(col("v")).as("a"))
      .as[(Long, Long)].collect().toMap
    val iterated = df.groupBy("g", "part")
      .agg(HllSketches.hll_state(col("v")).as("sk"))
      .groupBy("g")
      .agg(HllSketches.hll_merge_state(col("sk")).as("sk"))
      .select(col("g"), HllSketches.hll_estimate(col("sk")).as("a"))
      .as[(Long, Long)].collect().toMap
    assert(direct == iterated,
      "merge-as-state + scalar estimate must be lossless")
  }

  test("state is exactly m bytes and malformed states are rejected") {
    val st = spark.range(1000).select(col("id").as("v"))
      .agg(HllSketches.hll_state(col("v")).as("sk"))
      .head().getAs[Array[Byte]](0)
    assert(st.length == Hll.M, s"state must be ${Hll.M} bytes")
    intercept[IllegalArgumentException] {
      HllBuffer.fromBytes(new Array[Byte](Hll.M - 1))
    }
  }

  test("estimator constants are the published HLL dials") {
    // α_64 in millionths and the 64-entry scaled-ln table back the
    // oracle SQL verbatim; pin them so a silent change breaks loudly
    assert(Hll.AlphaMillionths == 709208L ||
      math.abs(Hll.AlphaMillionths - 709208L) < 2000,
      s"alpha drifted: ${Hll.AlphaMillionths}")
    assert(Hll.LnTable.length == 64)
    assert(Hll.LnTable(63) == 0L) // ln(64/64) = 0
    assert(Hll.LnTable(0) == math.floor(
      StrictMath.log(64.0) * 1000000.0).toLong)
    assert(Hll.LinearThreshold == 160L)
  }

  test("hll_distinct is SQL-visible") {
    graft.GraftFunctions.install(spark)
    spark.range(1000).select((col("id") % 30).as("v"))
      .createOrReplaceTempView("hll_in")
    val est = spark.sql(
      "SELECT hll_distinct(v) FROM hll_in").head().getLong(0)
    // 30 distinct is deep in linear counting: near-exact
    assert(math.abs(est - 30L) <= 4, s"got $est")
  }
}
