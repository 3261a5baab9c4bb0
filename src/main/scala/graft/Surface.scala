package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What the surface mains (Bench, Verify, Prof) share: the query
  * selection, the warm-up and the materializing action.
  */
object Surface {
  /** SPARK_GRAFT_ONLY=name1,name2 restricts Bench and Verify to a subset
    * (timing or re-verifying one changed query at a big fixture); unset =
    * the full surface.
    */
  val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_ONLY").map(names)

  def names(csv: String): Set[String] =
    csv.split(",").map(_.trim).filter(_.nonEmpty).toSet

  def queries(sel: Option[Set[String]])
      : Map[String, (SparkSession, String) => DataFrame] = sel match {
    case Some(ns) =>
      val unknown = ns -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(s"[surface] no such query: ${unknown.mkString(",")}")
      SparkEntry.queries.filter(kv => ns(kv._1))
    case None => SparkEntry.queries
  }

  /** Materializing action: executes the query's own physical plan (every
    * projection evaluated), unlike df.count() whose Aggregate lets
    * Catalyst prune unreferenced columns and reduce map-only queries to
    * row counts.
    */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Warms the JVM, codegen and parquet-footer paths so the first
    * measured query doesn't absorb session start-up cost.
    */
  def warmUp(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000000).selectExpr("sum(id)").collect()
      SparkEntry.queries.get("q1_pricing_summary")
        .foreach(fn => materialize(fn(spark, sfDir)))
    } catch { case _: Throwable => () }
}
