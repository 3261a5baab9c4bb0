package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.io.File
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new File(outDir).mkdirs()
    // 4 concurrent dump jobs: each query still coalesces to one file
    // (single-file layout for the driver's DuckDB read), but the mostly-
    // small jobs overlap instead of serializing on the driver
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val dumps = Surface.queries(Surface.only).toSeq.map { case (name, fn) =>
      scala.concurrent.Future {
        // repartition(1), NOT coalesce(1): both yield the single-file
        // layout the driver's DuckDB read expects, but coalesce
        // collapses the final stage to ONE task — at the 10× gate
        // fixture that serialized a candidate-verify join onto one
        // core for tens of minutes. The extra exchange moves only the
        // (small) result; compute stays at full parallelism. Row order
        // changes are irrelevant — both gates sort before comparing.
        try fn(spark, sfDir).repartition(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(dumps),
      scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    val json = new ObjectMapper()
    json.writeValue(new File(s"$outDir/oracle_sql.json"),
      SparkEntry.oracleSql.asJava)
    // Engine-environment stamp (VERDICT r12 #5): recorded next to the
    // dumps so the gate artifact can pin BOTH sides of a divergence
    // (check.py folds this into its artifact alongside duckdb version).
    json.writeValue(new File(s"$outDir/env.json"), Map(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> System.getProperty("java.version")).asJava)
    spark.stop()
  }
}
