package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode

/** The diagnostic main (optimization guide §1: measure first). Runs the
  * named queries in one of three modes:
  *
  *  - `[reps]` (default 1): one CSV line per run,
  *    name, build_ms (fn call → analyzed plan), plan_ms (physical
  *    planning), exec_ms (toRdd.count), jobs, stages, tasks
  *    so "many tiny sequential jobs" (iterative operators) is
  *    distinguishable from "one expensive stage" (compute-bound) and from
  *    "Catalyst planning" (plan-size-bound) without the UI. Each line is
  *    followed by the query's Catalyst phase times and its eight
  *    costliest optimizer rules (indented lines).
  *  - `plans`: runs each query and prints the POST-EXECUTION (AQE-final)
  *    physical-plan lines for joins, exchanges and scans — AQE's strategy
  *    choices (which joins flip to sort-merge at scale) are only visible
  *    after execution (`isFinalPlan=true`), not in `explain`.
  *  - `explain <outDir> <suffix>`: writes `.explain("formatted")` of each
  *    query to `<outDir>/<name>_<suffix>.txt`, the plan artifacts behind
  *    `plans/r15/<query>_{before,after}.txt`.
  *
  * Usage: runMain graft.Prof <sfDir> <name1,name2,...|ALL> [reps | plans |
  *   explain <outDir> <suffix>]
  */
object Prof {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = Surface.queries(
      if (args(1) == "ALL") None else Some(Surface.names(args(1))))
      .toSeq.sortBy(_._1)
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(2) match {
      case Array("plans") => plans(spark, sfDir, queries)
      case Array("explain", outDir, suffix) =>
        explain(spark, sfDir, queries, outDir, suffix)
      case rest => cost(spark, sfDir, queries, rest.headOption.fold(1)(_.toInt))
    }
    spark.stop()
  }

  private type Queries = Seq[(String, (SparkSession, String) => DataFrame)]

  private def cost(spark: SparkSession, sfDir: String, queries: Queries,
                   reps: Int): Unit = {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs += 1
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
      }
    })
    Surface.warmUp(spark, sfDir)
    println("name,build_ms,plan_ms,exec_ms,jobs,stages,tasks")
    for ((name, fn) <- queries; _ <- 1 to reps) {
      jobs = 0; stages = 0; tasks = 0
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      df.queryExecution.analyzed // force analysis
      val t1 = System.nanoTime()
      val rdd = df.queryExecution.toRdd // physical planning
      val t2 = System.nanoTime()
      rdd.count()
      val t3 = System.nanoTime()
      // listener events are async; give the bus a beat before reading
      Thread.sleep(100)
      println(s"$name,${(t1 - t0) / 1000000},${(t2 - t1) / 1000000}," +
        s"${(t3 - t2) / 1000000},$jobs,$stages,$tasks")
      val tr = df.queryExecution.tracker
      println("  phases: " + tr.phases.map { case (k, v) =>
        s"$k=${v.durationMs}ms" }.mkString(" "))
      tr.rules.toSeq.sortBy(-_._2.totalTimeNs).take(8).foreach {
        case (rule, m) =>
          println(f"  rule ${m.totalTimeNs / 1000000}%6dms " +
            f"inv=${m.numInvocations}%5d eff=${m.numEffectiveInvocations}%4d  " +
            rule.split("\\.").takeRight(2).mkString("."))
      }
    }
  }

  private def plans(spark: SparkSession, sfDir: String,
                    queries: Queries): Unit =
    for ((name, fn) <- queries) {
      val df = fn(spark, sfDir)
      Surface.materialize(df) // run it so AQE finalizes
      println(s"===== $name =====")
      df.queryExecution.executedPlan.toString.linesIterator
        .filter(l => l.contains("Join") || l.contains("Exchange") ||
          l.contains("Scan parquet") || l.contains("isFinalPlan"))
        .foreach(l => println(l.replaceAll("#\\d+[L]?", "").take(160)))
    }

  private def explain(spark: SparkSession, sfDir: String, queries: Queries,
                      outDir: String, suffix: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    for ((name, fn) <- queries) {
      try {
        val txt = fn(spark, sfDir).queryExecution.explainString(FormattedMode)
        Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        println(s"[prof] wrote $name")
      } catch {
        case e: Throwable =>
          System.err.println(s"[prof] $name FAILED: ${e.getMessage}")
      }
    }
  }
}
