package graft.plans

import graft.SparkSpec

class RangeJoinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq((1L, 100L), (2L, 200L), (3L, 150L))
    .toDF("lid", "t")
  private def right = Seq((10L, 95L), (11L, 40L), (12L, 199L),
    (13L, 150L), (14L, 141L), (15L, 139L)).toDF("rid", "rt")

  private val sql =
    "SELECT l.lid, r.rid FROM rj_l l JOIN rj_r r " +
      "ON r.rt BETWEEN l.t - 10 AND l.t"

  // the shared session may already carry the rule (asOfJoinMerge and
  // the SQL-function specs install it), so both sides pin it explicitly
  private def withRules[A](rules: Seq[RangeJoinRewrite.type])(f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = rules
    try f
    finally spark.experimental.extraOptimizations = saved
  }
  private def withRule[A](f: => A): A = withRules(Seq(RangeJoinRewrite))(f)
  private def ruleOff[A](f: => A): A = withRules(Nil)(f)

  test("rewrites the key-less interval join to a bucketed equi-join") {
    left.createOrReplaceTempView("rj_l")
    right.createOrReplaceTempView("rj_r")
    val naivePlan = ruleOff(spark.sql(sql).queryExecution.executedPlan.toString)
    assert(naivePlan.contains("BroadcastNestedLoopJoin") ||
      naivePlan.contains("CartesianProduct"),
      s"fixture no longer plans as a pairing blow-up:\n$naivePlan")
    withRule {
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin") &&
        !plan.contains("CartesianProduct"),
        s"rule did not fire:\n$plan")
      assert(plan.contains("__rj_bucket"), "expected the bucket join key")
    }
  }

  test("rewritten join returns exactly the naive join's rows") {
    left.createOrReplaceTempView("rj_l")
    right.createOrReplaceTempView("rj_r")
    val naive = ruleOff(spark.sql(sql).as[(Long, Long)].collect().toSet)
    val rewritten = withRule {
      spark.sql(sql).as[(Long, Long)].collect().toSet
    }
    assert(rewritten == naive && naive.nonEmpty,
      s"rewrite changed results: $rewritten vs $naive")
    // window semantics spot checks: t=100 pairs rt=95 (in window),
    // never rt=40 (too old); t=150 pairs 141/150 but not 139
    assert(naive.contains((1L, 10L)) && !naive.contains((1L, 11L)))
    assert(naive.contains((3L, 13L)) && naive.contains((3L, 14L)) &&
      !naive.contains((3L, 15L)))
  }

  test("joins the rule doesn't understand are left untouched") {
    left.createOrReplaceTempView("rj_l")
    right.createOrReplaceTempView("rj_r")
    withRule {
      // keyed join with residual range: Spark's hash join handles it
      val keyed = spark.sql(
        "SELECT l.lid FROM rj_l l JOIN rj_r r " +
          "ON l.lid % 3 = r.rid % 3 AND r.rt <= l.t AND r.rt >= l.t - 10")
      assert(!keyed.queryExecution.executedPlan.toString
        .contains("__rj_bucket"))
      // one-sided inequality (unbounded window): untouched
      val unbounded = spark.sql(
        "SELECT l.lid FROM rj_l l JOIN rj_r r ON r.rt <= l.t")
      assert(!unbounded.queryExecution.executedPlan.toString
        .contains("__rj_bucket"))
      assert(unbounded.count() > 0)
    }
  }
}
