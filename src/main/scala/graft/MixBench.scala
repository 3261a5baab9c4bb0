package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Clustering, Curation, Dedup, Packing,
  Sampling, TextFunctions}

/** Stage-attributed wall clock for the composed training-set pipelines
  * (VERDICT r9 #5, re-architected per VERDICT r11 #3): the round-11
  * cumulative-prefix protocol rebuilt every ancestor per prefix, so
  * ±10% ancestor variance swamped small stages (a NEGATIVE pack
  * attribution was printed at 500k docs). Stages are now timed in
  * ISOLATION: each stage reads the MATERIALIZED (written-and-reread)
  * parquet output of the previous stage and writes its own, so a
  * stage's number contains exactly its own input scan + compute +
  * output write — no ancestor recomputation, no negative
  * attributions by construction. The fused end-to-end pipeline is
  * still run and reported as `total_sec` (the quotable headline);
  * `sum_stages_sec` differs from it by the materialization I/O the
  * isolation deliberately pays, and `out_rows` must match between the
  * fused and staged runs (asserted — the staging cannot change the
  * pipeline's semantics).
  *
  * Env: SPARK_GRAFT_SF_DIR (fixture), SPARK_GRAFT_CPUS (see GraftSession),
  * SPARK_GRAFT_MIX_TMP (stage-materialization dir; default tmpdir).
  */
object MixBench {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def docs = Tables.load(spark, sfDir, "documents")
    def embs = Tables.load(spark, sfDir, "embeddings")

    val tmpBase = sys.env.getOrElse("SPARK_GRAFT_MIX_TMP",
      sys.props("java.io.tmpdir")) + "/graft_mix_" +
      spark.sparkContext.applicationId.replaceAll("[^a-zA-Z0-9]", "_")
    // Stage materializations are scratch: delete tmpBase when the JVM
    // exits (shutdown hook rather than only a trailing delete, so a
    // mid-run crash doesn't leak a full pipeline's worth of parquet
    // into SPARK_GRAFT_MIX_TMP either — ADVICE r12 #2).
    def rmTree(p: java.io.File): Unit = {
      if (p.isDirectory) Option(p.listFiles()).foreach(_.foreach(rmTree))
      p.delete(); ()
    }
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      rmTree(new java.io.File(tmpBase))))

    // isolated stage: read materialized inputs (inside the timer —
    // the input scan is part of the stage's honest cost), compute,
    // write the stage's own materialization
    def stage(name: String)(mk: => DataFrame): Long = {
      val t0 = System.nanoTime()
      mk.write.mode("overwrite").parquet(s"$tmpBase/$name")
      (System.nanoTime() - t0) / 1000000L
    }
    def rd(name: String): DataFrame =
      spark.read.parquet(s"$tmpBase/$name")

    // fused end-to-end run (the headline): by-name so eager stages
    // (connectedComponents persists + counts) land inside the timer
    def force(mk: => DataFrame): Long = {
      val t0 = System.nanoTime()
      val df = mk
      df.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1000000L
    }

    // ---- training_mix stage definitions ------------------------------
    def mixDropsFrom(d: DataFrame) = Dedup.connectedComponents(
        Dedup.minHashCandidates(d, "doc_id", "text")
          .filter(col("est_jaccard") >= 0.5), "id_a", "id_b")
      .filter(col("rep_id") =!= col("doc_id")).select("doc_id")
    def mixGatedFrom(d: DataFrame, drops: DataFrame) =
      d.select(col("doc_id"), col("text"),
          TextFunctions.langId(col("text")).as("lang_pred"),
          TextFunctions.qualityScore(col("text")).as("quality"))
        .join(drops, Seq("doc_id"), "left_anti")
        .filter(col("quality") >= 0.5)
    def mixSampledFrom(g: DataFrame) = Sampling.sampleStratified(
      g, "doc_id", col("lang_pred"), Map("en" -> 0.5),
      defaultRate = 0.9)
    def mixPackedFrom(sm: DataFrame) = Packing.packForTraining(
        sm, "doc_id", TextFunctions.subwordCount(col("text")),
        budgetTokens = 2048, shardSize = 100)
      .select("doc_id", "lang_pred", "quality", "n_tokens", "shard",
        "pack_in_shard", "pack_offset")

    // one untimed fused warmup so first-run JIT/codegen doesn't land
    // in whichever stage happens to run first (at sf0.01 it inflated
    // stage 1 by ~8 s)
    force(mixPackedFrom(mixSampledFrom(
      mixGatedFrom(docs, mixDropsFrom(docs)))))

    // isolated stages, each against the previous materialization
    val m1 = stage("mix_drops") { mixDropsFrom(docs) }
    val m2 = stage("mix_gated") { mixGatedFrom(docs, rd("mix_drops")) }
    val m3 = stage("mix_sampled") { mixSampledFrom(rd("mix_gated")) }
    val m4 = stage("mix_packed") { mixPackedFrom(rd("mix_sampled")) }
    val stagedRows = rd("mix_packed").count()

    // fused headline
    val mTotal = force(mixPackedFrom(mixSampledFrom(
      mixGatedFrom(docs, mixDropsFrom(docs)))))
    val outRows = mixPackedFrom(mixSampledFrom(
      mixGatedFrom(docs, mixDropsFrom(docs)))).count()
    require(stagedRows == outRows,
      s"staged ($stagedRows) != fused ($outRows) training_mix rows")

    // ---- training_mix_semantic stage definitions ---------------------
    def semDropsFrom(e: DataFrame) = Clustering.semanticDedupAdaptive(
        e, "vec_id", "embedding", iters = 3, minCos = 0.4,
        targetClusterSize = 256, minK = 8)
      .select(col("vec_id").as("doc_id"))
    def semGatedFrom(d: DataFrame, drops: DataFrame) = {
      val quality = TextFunctions.qualityScore(col("text"))
      val lenNorm = least(TextFunctions.tokenCount(col("text"))
        .cast("double") / lit(256.0), lit(1.0))
      d.join(drops, Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("text"),
          Curation.linearKeepProb(-1.4, quality -> 2.2,
            lenNorm -> 1.1).as("keep_prob"))
        .filter(col("keep_prob") >= 0.5)
    }
    def semPackedFrom(g: DataFrame) = Packing.packForTraining(
        g, "doc_id", TextFunctions.subwordCount(col("text")),
        budgetTokens = 2048, shardSize = 100)
      .select("doc_id", "keep_prob", "n_tokens", "shard",
        "pack_in_shard", "pack_offset")

    val s1 = stage("sem_drops") { semDropsFrom(embs) }
    val s2 = stage("sem_gated") { semGatedFrom(docs, rd("sem_drops")) }
    val s3 = stage("sem_packed") { semPackedFrom(rd("sem_gated")) }
    val semStagedRows = rd("sem_packed").count()

    val sTotal = force(semPackedFrom(semGatedFrom(docs,
      semDropsFrom(embs))))
    val semRows = semPackedFrom(semGatedFrom(docs,
      semDropsFrom(embs))).count()
    require(semStagedRows == semRows,
      s"staged ($semStagedRows) != fused ($semRows) semantic rows")

    def sec(ms: Long): Double = ms / 1000.0
    println(
      s"""{"metric":"mix_stages","sf":"$sfDir",""" +
      s""""training_mix":{"total_sec":${sec(mTotal)},""" +
      s""""out_rows":$outRows,""" +
      s""""sum_stages_sec":${sec(m1 + m2 + m3 + m4)},""" +
      s""""stages":{"dedup":${sec(m1)},"gate":${sec(m2)},""" +
      s""""sample":${sec(m3)},"pack":${sec(m4)}}},""" +
      s""""training_mix_semantic":{"total_sec":${sec(sTotal)},""" +
      s""""out_rows":$semRows,""" +
      s""""sum_stages_sec":${sec(s1 + s2 + s3)},""" +
      s""""stages":{"semdedup":${sec(s1)},"gate":${sec(s2)},""" +
      s""""pack":${sec(s3)}}}}""")
    rmTree(new java.io.File(tmpBase))
    spark.stop()
  }
}
