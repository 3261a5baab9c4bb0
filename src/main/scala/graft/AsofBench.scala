package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Micro-bench for the custom as-of physical operator (VERDICT r5
  * missing item #8): times `TemporalJoins.asOfJoinMerge` (AsOfJoinNode
  * → Strategy → AsOfJoinExec, partition-local two-pointer merge with
  * O(1) state) against `TemporalJoins.asOfJoin` (the union+window
  * formulation) on the same purchase←click attribution workload, at
  * the fixture scale and at an in-Spark replicated 10× (each copy
  * shifts user_id past the key domain, so the key count grows 10× and
  * per-key series stay fixture-sized — scaling the dimension that
  * matters for the window form's sort).
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_RUNS (default 3), SPARK_GRAFT_ASOF_COPIES
  * (default 10).
  */
object AsofBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runsN = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val copies = sys.env.getOrElse("SPARK_GRAFT_ASOF_COPIES", "10").toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val ev = Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "ts", "event_type")

    def replicated(n: Int): DataFrame =
      if (n <= 1) ev
      else (0 until n).map(c => ev
          .withColumn("user_id", col("user_id") + lit(c.toLong * 10_000_000L))
          .withColumn("event_id", col("event_id") + lit(c.toLong * 100_000_000L)))
        .reduce(_ unionAll _)

    def mkSides(e: DataFrame): (DataFrame, DataFrame) = (
      e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts")),
      e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts")))

    def windowForm(e: DataFrame): DataFrame = {
      val (p, c) = mkSides(e)
      graft.ops.TemporalJoins.asOfJoin(p, c, "user_id", "purchase_ts",
        "c_ts", Seq("c_ts"))
    }
    def mergeForm(e: DataFrame): DataFrame = {
      val (p, c) = mkSides(e)
      graft.ops.TemporalJoins.asOfJoinMerge(p, c, "user_id", "purchase_ts",
        "c_ts", Seq("c_ts"))
    }

    def time(mk: () => DataFrame): Double = {
      val t0 = System.nanoTime()
      mk().queryExecution.toRdd.count()
      (System.nanoTime() - t0) / 1e9
    }
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }

    // equal-output sanity at 1x before timing anything
    val n1 = windowForm(ev).count()
    val n2 = mergeForm(ev).count()
    require(n1 == n2, s"window $n1 != merge $n2 rows")

    val out = scala.collection.mutable.ListBuffer.empty[String]
    for (scale <- Seq(1, copies)) {
      val e = replicated(scale).localCheckpoint(true) // exclude replication cost
      time(() => windowForm(e)); time(() => mergeForm(e)) // warm
      val w = median((1 to runsN).map(_ => time(() => windowForm(e))))
      val m = median((1 to runsN).map(_ => time(() => mergeForm(e))))
      out += s""""x$scale":{"window_sec":$w,"merge_sec":$m}"""
    }
    println(s"""{"metric":"asof_forms","runs":$runsN,${out.mkString(",")},"sf":"$sfDir"}""")
    spark.stop()
  }
}
