package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, CreateArray, Expression, ExpressionInfo, XxHash64}
import org.apache.spark.sql.types.{Decimal, DoubleType, LongType}
import org.apache.spark.unsafe.types.UTF8String

import graft.expressions.{BloomAgg, BloomContains, BloomMergeAgg, Cms, CmsAgg, CmsEstimate, CosineSim, DotProduct, HllAgg, HllMergeAgg, HllStateAgg, KmvDistinctAgg, KmvMergeAgg, KmvStateAgg, KqMergeAgg, KqQuantile, KqStateAgg, MinHashSig, PushdownBarrier, ShingleHashes, SimHash64, SortedArrayJaccard, SortedArrayOverlap, TopKByAgg, UnicodeNormalize, UnicodeNormalizeImpl, ZOrderKey}
import graft.plans.{AsOfJoinStrategy, RangeJoinRewrite}

/** The engine's SQL functions, name -> builder: the one table that
  * [[GraftExtensions]] injects at build time and [[GraftFunctions.install]]
  * registers at runtime. Each builder validates arity and parses optional
  * integer-literal parameters — a call like `minhash_sig(text, 5, 32)`
  * configures the expression instead of silently running with the
  * defaults, and an over-arity call errors instead of being ignored.
  * Aggregates come back as bare `AggregateFunction`s; the analyzer wraps
  * them.
  */
private[graft] object GraftBuilders {
  /** One call's arguments; literal parse errors name the function. */
  private final class Args(val fn: String, val exprs: Seq[Expression]) {
    def apply(pos: Int): Expression = exprs(pos)

    private def lit(pos: Int): Any =
      if (exprs(pos).foldable) exprs(pos).eval() else null

    def int(pos: Int): Int = lit(pos) match {
      case n: Number => n.intValue()
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be an integer literal, got $other")
    }

    def optInt(pos: Int, default: Int): Int =
      if (exprs.length > pos) int(pos) else default

    def dbl(pos: Int): Double = lit(pos) match {
      case n: Number => n.doubleValue()
      case d: Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a numeric literal, got $other")
    }

    def str(pos: Int, what: String): String = lit(pos) match {
      case s: UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be a string literal ($what), " +
          s"got $other")
    }
  }

  private def fn(name: String, min: Int, max: Int)(build: Args => Expression)
      : (String, Seq[Expression] => Expression) =
    name -> { exprs =>
      if (exprs.length < min || exprs.length > max)
        throw new IllegalArgumentException(
          s"$name expects $min to $max arguments, got ${exprs.length}")
      build(new Args(name, exprs))
    }

  private def xx(e: Expression, seed: Long = 42L) = XxHash64(Seq(e), seed)

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    fn("simhash64", 1, 1)(a => SimHash64(a(0))),
    fn("minhash_sig", 1, 3)(a =>
      MinHashSig(a(0), a.optInt(1, 3), a.optInt(2, 16))),
    fn("shingle_hashes", 1, 2)(a => ShingleHashes(a(0), a.optInt(1, 3))),
    fn("sorted_array_jaccard", 2, 2)(a => SortedArrayJaccard(a(0), a(1))),
    fn("sorted_array_overlap", 2, 2)(a => SortedArrayOverlap(a(0), a(1))),
    fn("cosine_sim", 2, 2)(a => CosineSim(a(0), a(1))),
    fn("dot_product", 2, 2)(a => DotProduct(a(0), a(1))),
    fn("top_k_by", 3, 3)(a => TopKByAgg(a(0), a(1), a.int(2))),
    fn("pushdown_barrier", 1, 1)(a => PushdownBarrier(a(0))),
    fn("kmv_distinct", 2, 2)(a => KmvDistinctAgg(xx(a(0)), a.int(1))),
    fn("kmv_state", 2, 2)(a => KmvStateAgg(xx(a(0)), a.int(1))),
    fn("kmv_merge_est", 1, 1)(a => KmvMergeAgg(a(0))),
    fn("hll_distinct", 1, 1)(a => HllAgg(xx(a(0)))),
    fn("hll_state", 1, 1)(a => HllStateAgg(xx(a(0)))),
    fn("hll_merge_est", 1, 1)(a => HllMergeAgg(a(0))),
    fn("bloom_agg", 3, 3)(a =>
      BloomAgg(xx(a(0)), xx(a(0), 43L), a.int(1), a.int(2))),
    fn("bloom_contains", 2, 2)(a =>
      BloomContains(a(0), CreateArray(Seq(xx(a(1)), xx(a(1), 43L))))),
    fn("bloom_merge", 1, 1)(a => BloomMergeAgg(a(0))),
    fn("cms_state", 3, 3)(a =>
      CmsAgg(Cms.rowHashExprsOf(a(0), a.int(1)), a.int(2))),
    fn("cms_estimate", 3, 3)(a =>
      CmsEstimate(a(0), CreateArray(Cms.rowHashExprsOf(a(1), a.int(2))))),
    fn("zorder_key", 2, 7)(a =>
      ZOrderKey(CreateArray(a.exprs.tail.map(e => Cast(e, LongType))),
        a.int(0))),
    fn("kq_state", 3, 8)(a =>
      KqStateAgg(XxHash64(a.exprs.drop(2), 42L), Cast(a(0), DoubleType),
        a.int(1))),
    fn("kq_quantile", 2, 2)(a => KqQuantile(a(0), a.dbl(1))),
    fn("kq_merge", 1, 1)(a => KqMergeAgg(a(0))),
    fn("unicode_normalize", 1, 2)(a => UnicodeNormalize(a(0),
      UnicodeNormalizeImpl.formOrdinal(
        if (a.exprs.length < 2) "NFC" else a.str(1, "NFC|NFD|NFKC|NFKD")))))
}

/** Session extension: the engine's SQL functions
  * (`SELECT simhash64(text) FROM docs`), the [[RangeJoinRewrite]]
  * optimizer rule and the [[AsOfJoinStrategy]] planner strategy, through
  * the standard `SparkSessionExtensions` hook. [[GraftSession.builder]]
  * installs it; a hand-built session can too:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // plan rewrite: windowed inequality joins -> bucketed equi-join
    e.injectOptimizerRule(_ => RangeJoinRewrite)
    // custom operator: AsOfJoinNode -> partition-local merge exec
    e.injectPlannerStrategy(_ => AsOfJoinStrategy)
    GraftBuilders.all.foreach { case (name, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name), build))
    }
  }
}

/** Runtime install on an already-running session (notebooks, shells,
  * sessions built without [[GraftExtensions]]): the same functions, rule
  * and strategy, no restart needed. Idempotent — each piece is added only
  * when absent. On a session that already carries [[GraftExtensions]] the
  * rule and strategy run twice, which is harmless: the rewritten join no
  * longer matches the rule, and the first matching strategy wins.
  */
object GraftFunctions {
  def install(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    GraftBuilders.all.foreach { case (name, build) =>
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, build, "scala_udf")
    }
    val exp = spark.experimental
    if (!exp.extraOptimizations.contains(RangeJoinRewrite))
      exp.extraOptimizations :+= RangeJoinRewrite
    if (!exp.extraStrategies.contains(AsOfJoinStrategy))
      exp.extraStrategies :+= AsOfJoinStrategy
  }
}

/** The one session factory: every main builds its session here.
  *
  * The default master is `local[$SPARK_GRAFT_CPUS]`, or `local[nproc]`
  * when the variable is unset. Shuffle partitions follow the master:
  * `local[N]` gives N, `local[*]` the machine's cores, a cluster master
  * 200. AQE, partition coalescing and skew-join handling are Spark's
  * defaults and stay on (GraftSessionSpec pins that).
  */
object GraftSession {
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", nproc.toString)
  private val LocalThreads = """local\[(\d+|\*)(?:,\d+)?\]""".r

  private[graft] def shufflePartitions(master: String): Int = master match {
    case "local" => 1
    case LocalThreads("*") => nproc
    case LocalThreads(n) => n.toInt
    case _ => 200
  }

  def builder(master: String = s"local[$cpus]"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions",
        shufflePartitions(master).toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); read as long + convert
      // (Tables.load) instead of failing the scan
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Generated-code cache (static conf, Spark default 100). A pass over
      // the surface compiles thousands of distinct whole-stage-codegen
      // sources; at 100 entries the LRU thrashes and every repetition
      // re-pays Janino compilation. The cache is keyed on the generated
      // Java source, a deterministic function of the physical plan, so it
      // holds compiled code (in metaspace), never data or results.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
}
