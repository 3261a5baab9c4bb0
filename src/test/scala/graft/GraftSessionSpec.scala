package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy

import graft.plans.{AsOfJoinStrategy, RangeJoinRewrite}

class GraftSessionSpec extends SparkSpec {
  /** A child of the suite-shared session with the runtime install: the
    * shared session itself stays plain (RangeJoinRewriteSpec uses it as
    * the rule-off reference).
    */
  private def installed(): SparkSession = {
    val s = spark.newSession()
    GraftFunctions.install(s)
    s
  }

  test("extensions expose native expressions to SQL") {
    val spark = installed()
    try {
      val row = spark.sql(
        """SELECT simhash64('hello world hello') AS sh,
          |       cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f)) AS cs,
          |       sorted_array_jaccard(array(1L, 2L), array(2L, 3L)) AS j,
          |       sorted_array_overlap(array(1L, 2L, 3L), array(2L, 3L, 4L))
          |         AS ov,
          |       size(minhash_sig('a b c d e')) AS nsig,
          |       size(shingle_hashes('a b c d e')) AS nsh
          |""".stripMargin).head()
      assert(row.getLong(0) != 0L)
      assert(row.getDouble(1) == 1.0)
      assert(math.abs(row.getDouble(2) - 1.0 / 3.0) < 1e-12)
      assert(row.getLong(3) == 2L)
      assert(row.getInt(4) == 16)
      assert(row.getInt(5) == 3)
      // aggregate registration: top-2 values by key per group
      spark.range(10).selectExpr("id % 2 AS g", "id AS k", "id * 10 AS v")
        .createOrReplaceTempView("tkb")
      val agg = spark.sql(
        "SELECT g, top_k_by(k, v, 2) AS t FROM tkb GROUP BY g ORDER BY g")
        .collect()
      assert(agg(0).getSeq[Long](1) == Seq(80L, 60L))
      assert(agg(1).getSeq[Long](1) == Seq(90L, 70L))
      // sketch-family SQL surface: cms, kq, zorder round-trips
      spark.range(1000).selectExpr("id", "concat('t', id % 7) AS tok",
        "CAST(id % 100 AS DOUBLE) AS v")
        .createOrReplaceTempView("sk_in")
      val sk = spark.sql(
        """SELECT cms_estimate((SELECT cms_state(tok, 4, 64) FROM sk_in),
          |         't0', 4) AS est,
          |       kq_quantile((SELECT kq_state(v, 64, id) FROM sk_in),
          |         0.5) AS p50,
          |       zorder_key(8, 3, 5) AS z""".stripMargin).head()
      assert(sk.getLong(0) >= 143L, s"cms lost mass: ${sk.getLong(0)}")
      assert(sk.getDouble(1) >= 0.0 && sk.getDouble(1) <= 99.0)
      assert(sk.getLong(2) == ZOrderImplRef.interleave2(3L, 5L, 8))
    } finally ()
  }

  private object ZOrderImplRef {
    def interleave2(x: Long, y: Long, bits: Int): Long = {
      var out = 0L
      for (b <- 0 until bits) {
        out |= ((x >>> b) & 1L) << (2 * b)
        out |= ((y >>> b) & 1L) << (2 * b + 1)
      }
      out
    }
  }

  test("SQL functions honor optional literal args and reject over-arity") {
    val spark = installed()
    val row = spark.sql(
      """SELECT size(minhash_sig('a b c d e', 2, 32)) AS nsig,
        |       size(shingle_hashes('a b c d e', 2)) AS nsh
        |""".stripMargin).head()
    assert(row.getInt(0) == 32)
    assert(row.getInt(1) == 4) // 5 tokens, 2-shingles
    // over-arity must error, not silently ignore the extra args
    intercept[Exception] {
      spark.sql("SELECT simhash64('x', 3)").head()
    }
    intercept[Exception] {
      spark.sql("SELECT minhash_sig('x', 2, 16, 99)").head()
    }
    // barrier is a SQL-visible identity
    assert(spark.sql("SELECT pushdown_barrier(21 * 2)").head().getInt(0)
      == 42)
    intercept[Exception] {
      spark.sql("SELECT pushdown_barrier(1, 2)").head()
    }
  }

  test("builder derives shuffle partitions from the master and keeps " +
      "Spark's AQE defaults on") {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val nproc = Runtime.getRuntime.availableProcessors()
    // getOrCreate hands back the suite-shared session and applies the
    // builder's SQL confs to it; the partition count is restored below
    try for ((master, parts) <- Seq("local[2]" -> 2, "local[3]" -> 3,
        "local[*]" -> nproc)) {
      val s = GraftSession.builder(master).getOrCreate()
      assert(s.conf.get(key) == parts.toString, master)
      for (k <- Seq("spark.sql.adaptive.enabled",
          "spark.sql.adaptive.coalescePartitions.enabled",
          "spark.sql.adaptive.skewJoin.enabled"))
        assert(s.conf.get(k) == "true", s"$k under $master")
    } finally spark.conf.set(key, prev)
    assert(GraftSession.shufflePartitions("yarn") == 200)
  }

  test("build-time and runtime registration install the same functions, " +
      "rule and strategy, once") {
    val functions = ArrayBuffer[String]()
    val rules = ArrayBuffer[Rule[LogicalPlan]]()
    val strategies = ArrayBuffer[SparkStrategy]()
    new GraftExtensions()(new SparkSessionExtensions {
      override def injectFunction(f: (FunctionIdentifier, ExpressionInfo,
          Seq[Expression] => Expression)): Unit = functions += f._1.funcName
      override def injectOptimizerRule(
          b: SparkSession => Rule[LogicalPlan]): Unit = rules += b(null)
      override def injectPlannerStrategy(
          b: SparkSession => SparkStrategy): Unit = strategies += b(null)
    })
    assert(functions.size == 25 && functions.distinct.size == 25)
    assert(rules == Seq(RangeJoinRewrite))
    assert(strategies == Seq(AsOfJoinStrategy))

    val s = spark.newSession()
    val reg = s.sessionState.functionRegistry
    val before = reg.listFunction().toSet
    GraftFunctions.install(s)
    GraftFunctions.install(s)
    assert((reg.listFunction().toSet -- before).map(_.funcName) ==
      functions.toSet)
    assert(s.experimental.extraOptimizations == Seq(RangeJoinRewrite))
    assert(s.experimental.extraStrategies == Seq(AsOfJoinStrategy))
  }
}
