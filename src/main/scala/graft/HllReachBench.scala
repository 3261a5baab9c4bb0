package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The HLL-vs-bitmap neighborhood trade WHERE REACH IS HIGH
  * (VERDICT r9 #8): on the dedup fixtures both HyperANF variants are
  * candidate-stage-bound and components are tiny, so the HLL swap pays
  * ~1.2× wall without collecting its prize. This harness synthesizes
  * the graph shape the prize exists for — ONE giant component with
  * hop-3 reach in the thousands (a ring for connectivity plus `chords`
  * deterministic xxhash chords per vertex for expansion) — and runs
  * the IDENTICAL per-round edge-join + state-merge loop on exact
  * roaring-bitmap states and on 64-byte HLL register states,
  * recording per round: total/max state bytes (the shuffle payload the
  * next round must move) and wall seconds. One JSON line to stdout.
  *
  * Env: SPARK_GRAFT_CPUS (see GraftSession), SPARK_GRAFT_REACH_N (vertices,
  * default 100000), SPARK_GRAFT_REACH_CHORDS (default 8).
  */
object HllReachBench {

  def main(args: Array[String]): Unit = {
    val n = sys.env.getOrElse("SPARK_GRAFT_REACH_N", "100000").toLong
    val chords = sys.env.getOrElse("SPARK_GRAFT_REACH_CHORDS", "8").toInt
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    import graft.expressions.Bitmaps
    import graft.expressions.HllSketches._

    // high-reach fixture: ring (one giant component, guaranteed) +
    // `chords` hash-planted chords per vertex (expansion: hop-3 reach
    // ~ degree³ — thousands of vertices, the regime where an exact
    // per-vertex reachable SET is the shuffle)
    val v = spark.range(n).select(col("id").as("src"))
    val ring = v.select(col("src"),
      pmod(col("src") + 1, lit(n)).as("dst"))
    val chordEdges = (1 to chords).map(k => v.select(col("src"),
      pmod(xxhash64(col("src") + lit(k * 1000003L)), lit(n)).as("dst")))
    val e = (ring +: chordEdges).reduce(_ unionByName _)
      .filter(col("src") =!= col("dst"))
    val sym = e.unionByName(
      e.select(col("dst").as("src"), col("src").as("dst")))
    val withSelf = sym.unionByName(
        v.select(col("src"), col("src").as("dst")))
      .distinct()
      .localCheckpoint(true)
    val nEdges = withSelf.count()

    final case class Round(wallSec: Double, totalBytes: Long,
                           maxBytes: Long, rows: Long)

    def stateBytes(st: DataFrame): (Long, Long, Long) = {
      val r = st.agg(sum(octet_length(col("st"))).cast("long"),
        max(octet_length(col("st"))).cast("long"),
        count(lit(1))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }

    def loop(seed: => DataFrame,
             merge: DataFrame => DataFrame): Seq[Round] = {
      // wall = producing the round's checkpointed state (the edge
      // join + merge agg — localCheckpoint(true) is eager); the byte
      // audit is timed separately and not charged to the round
      var t0 = System.nanoTime()
      var cur = seed.localCheckpoint(true)
      val w1 = (System.nanoTime() - t0) / 1e9
      val out = Seq.newBuilder[Round]
      val (b1, m1, r1) = stateBytes(cur)
      out += Round(w1, b1, m1, r1)
      for (_ <- 2 to 3) {
        t0 = System.nanoTime()
        cur = merge(cur).localCheckpoint(true)
        val wall = (System.nanoTime() - t0) / 1e9
        val (b, m, r) = stateBytes(cur)
        out += Round(wall, b, m, r)
      }
      out.result()
    }

    val bmRounds = loop(
      withSelf.groupBy("src")
        .agg(Bitmaps.bitmap_state(col("dst")).as("st")),
      prev => withSelf
        .join(prev.withColumnRenamed("src", "dst"), Seq("dst"))
        .groupBy("src")
        .agg(Bitmaps.bitmap_merge_state(col("st")).as("st")))

    val hllRounds = loop(
      withSelf.groupBy("src").agg(hll_state(col("dst")).as("st")),
      prev => withSelf
        .join(prev.withColumnRenamed("src", "dst"), Seq("dst"))
        .groupBy("src")
        .agg(hll_merge_state(col("st")).as("st")))

    def js(rs: Seq[Round]): String = rs.zipWithIndex.map {
      case (r, i) =>
        s""""hop${i + 1}":{"wall_sec":${math.round(r.wallSec * 100) / 100.0},""" +
        s""""state_bytes":${r.totalBytes},"max_vertex_bytes":${r.maxBytes},""" +
        s""""vertices":${r.rows}}"""
    }.mkString(",")

    println(s"""{"metric":"hll_reach","n_vertices":$n,""" +
      s""""chords":$chords,"n_directed_edges":$nEdges,""" +
      s""""bitmap":{${js(bmRounds)}},"hll":{${js(hllRounds)}}}""")
    spark.stop()
  }
}
