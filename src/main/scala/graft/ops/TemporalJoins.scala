package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively, built by composition
  * (preference (a) of the custom-operator ladder — the semantics ARE
  * expressible with existing operators; [[asOfJoinMerge]] is the same
  * backward semantics on the tier-(c) custom physical operator
  * [[graft.plans.AsOfJoinExec]] for layouts that deserve it):
  *
  *  - [[asOfJoin]]: for each left row, the latest right row with
  *    `rightTime <= leftTime` per key. ONE sort-shuffle over the union —
  *    no range cross-product, no per-row subquery. This is the scalable
  *    shape at 100 TB: both sides shuffle once on the key, then a single
  *    running `last(_, ignoreNulls)` window pass.
  *  - [[rangeJoin]]: pairs within a bounded time window, via coarse
  *    time-bucket equi-join + exact refine. The bucket key bounds the
  *    join fan-out (each left row meets only ±1 bucket of right rows)
  *    instead of the O(n·m) theta-join a naive inequality join plans.
  */
object TemporalJoins {

  /** Keyed as-of join: left enriched with the right observation nearest
    * its timestamp in the requested `direction` —
    * `"backward"` (latest at-or-before, the default), `"forward"`
    * (earliest at-or-after), or `"nearest"` (smaller absolute time
    * delta; exact ties resolve backward, the deterministic convention).
    *
    * Still ONE shuffle for any direction: the union partitions once on
    * the key; backward/forward are a single running
    * `last(_, ignoreNulls)` pass over the ascending/descending sort,
    * and `nearest` evaluates both windows over the SAME exchange (two
    * in-partition sorts, no second shuffle).
    *
    * @param left      probe side; keeps all rows
    * @param right     reference side (e.g. quotes, clicks)
    * @param key       equi-key column present on both sides
    * @param leftTime  event-time column on `left`
    * @param rightTime event-time column on `right`
    * @param valueCols right columns to carry (as `asof_<name>`)
    * @param direction "backward" | "forward" | "nearest"
    */
  def asOfJoin(left: DataFrame, right: DataFrame, key: String,
               leftTime: String, rightTime: String,
               valueCols: Seq[String],
               direction: String = "backward"): DataFrame = {
    require(Set("backward", "forward", "nearest")(direction),
      s"direction must be backward|forward|nearest, got $direction")
    val leftCols = left.columns
    // The observation travels as ONE struct (non-null for every right
    // row) rather than per-column fills: last(_, ignoreNulls) then keys
    // on the ROW, so a null attribute inside the latest observation is
    // surfaced as-is instead of falling back to an older non-null value.
    // The struct carries the observation time (double domain, so both
    // TIMESTAMP and numeric time columns work) for nearest's tie-break.
    // tag: right rows sort BEFORE left rows at equal timestamps in BOTH
    // sort directions, so an exactly-simultaneous observation is
    // visible (<= / >= semantics).
    val obsStruct = struct(
      (col(rightTime).cast("double").as("__rt") +: valueCols.map(col)): _*)
    val taggedRight = right.select(
      (col(key).as(key) +: col(rightTime).as("__t") +: lit(0).as("__tag") +:
        obsStruct.as("__obs") +: Nil) ++
        leftCols.filterNot(c => c == key).map(c => lit(null).as(c)): _*)
    val taggedLeft = left.select(
      (col(key).as(key) +: col(leftTime).as("__t") +: lit(1).as("__tag") +:
        lit(null).as("__obs") +: Nil) ++
        leftCols.filterNot(c => c == key).map(col): _*)
    val union = taggedRight.unionByName(taggedLeft)

    val wB = Window.partitionBy(key).orderBy(col("__t").asc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy(key).orderBy(col("__t").desc, col("__tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    def bf = last(col("__obs"), ignoreNulls = true).over(wB)
    def ff = last(col("__obs"), ignoreNulls = true).over(wF)

    val picked = direction match {
      case "backward" => union.withColumn("__pick", bf)
      case "forward" => union.withColumn("__pick", ff)
      case "nearest" =>
        val t = col("__t").cast("double")
        union.withColumn("__bf", bf).withColumn("__ff", ff)
          .withColumn("__pick",
            when(col("__bf").isNull, col("__ff"))
              .when(col("__ff").isNull, col("__bf"))
              .when(abs(t - col("__bf").getField("__rt")) <=
                abs(col("__ff").getField("__rt") - t), col("__bf"))
              .otherwise(col("__ff")))
    }
    picked.filter(col("__tag") === 1)
      .select(leftCols.map(col) ++
        valueCols.map(c => col("__pick").getField(c).as(s"asof_$c")): _*)
  }

  /** Keyed range join: all (left, right) pairs with the same key and
    * `rightTime` in `[leftTime - windowSeconds, leftTime]`.
    *
    * Implementation: equi-join on (key, coarse bucket) for buckets of
    * `windowSeconds` width — each left row joins its own and previous
    * bucket only — then exact interval refine.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, key: String,
                leftTime: String, rightTime: String,
                windowSeconds: Long): DataFrame = {
    val bucket = (t: Column) => floor(t.cast("double") / windowSeconds)
    // left probes its bucket and the previous one
    val probe = left.withColumn("__b",
      explode(array(bucket(col(leftTime)), bucket(col(leftTime)) - 1)))
    val build = right.withColumn("__b", bucket(col(rightTime)))
    // refine in the double domain (epoch-seconds for timestamps, identity
    // for numerics) so BIGINT/DOUBLE time columns type-check too — the
    // same domain the bucket key above already uses
    probe.join(build, Seq(key, "__b"))
      .filter(col(rightTime).cast("double") <= col(leftTime).cast("double") &&
        col(rightTime).cast("double") >= col(leftTime).cast("double") - windowSeconds)
      .drop("__b")
  }

  /** Hourly resample with linear interpolation: one value per
    * (series key, hour boundary) inside each series' observed span,
    * interpolated between the two surrounding observations.
    *
    * Shape: observations collapse to one row per (key, second) (max on
    * genuine duplicates — a deterministic rule), consecutive pairs come
    * from one `lead` window pass over the per-key sort, and each
    * segment EXPLODES only its own interior grid points (`sequence`),
    * so cost is observations + emitted grid rows — no grid×obs join,
    * no union-and-backfill double pass. The per-key sort-shuffle is the
    * same single exchange [[asOfJoin]] costs.
    *
    * Determinism: the interpolation `v + (nv-v) * ((g-e)/(ne-e))` is
    * evaluated in the same IEEE association by the SQL oracle and
    * rounded to 4 decimals.
    */
  /** Backward as-of join on the custom sort-merge physical operator
    * ([[graft.plans.AsOfJoinNode]] → `AsOfJoinExec`): semantically
    * identical to `asOfJoin(..., direction = "backward")` — the spec
    * and the shared DuckDB oracle pin the equivalence — but executed
    * as a partition-local two-pointer merge with O(1) state instead of
    * a union + window pass. Carried right columns come back as
    * `asof_<name>`, like [[asOfJoin]].
    *
    * Plans through `AsOfJoinStrategy`, which [[graft.GraftFunctions.install]]
    * adds to a session built without `graft.GraftExtensions`.
    */
  def asOfJoinMerge(left: DataFrame, right: DataFrame, key: String,
                    leftTime: String, rightTime: String,
                    valueCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.PlanBridge
    val lp = PlanBridge.analyzed(left)
    val rpRaw = PlanBridge.analyzed(right)
    // self-join hygiene: if the two sides share attribute ids (both
    // derive from the same frame), re-alias every right output with a
    // fresh id — otherwise the captured right key/time attrs resolve
    // against the LEFT child after the analyzer deduplicates the
    // shared relation, and column pruning silently drops them from
    // the right side (the same dedup Dataset.join performs)
    val rp =
      if (lp.outputSet.intersect(rpRaw.outputSet).isEmpty) rpRaw
      else org.apache.spark.sql.catalyst.plans.logical.Project(
        rpRaw.output.map(a =>
          org.apache.spark.sql.catalyst.expressions.Alias(a, a.name)()),
        rpRaw)
    def attr(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             n: String, side: String) =
      p.output.find(_.name == n).getOrElse(throw new IllegalArgumentException(
        s"asOfJoinMerge: no column '$n' on the $side side " +
          s"(have: ${p.output.map(_.name).mkString(", ")})"))
    val node = graft.plans.AsOfJoinNode(lp, rp,
      attr(lp, key, "left"), attr(rp, key, "right"),
      attr(lp, leftTime, "left"), attr(rp, rightTime, "right"),
      valueCols.map(attr(rp, _, "right")))
    graft.GraftFunctions.install(left.sparkSession)
    val out = PlanBridge.ofRows(left.sparkSession, node)
    valueCols.foldLeft(out)((df, c) => df.withColumnRenamed(c, s"asof_$c"))
  }

  def interpolateHourly(events: DataFrame, keyCol: String, tsCol: String,
                        valueCol: String): DataFrame = {
    val obs = events
      .select(col(keyCol).as("__t"), col(tsCol).cast("long").as("__e"),
        col(valueCol).cast("double").as("__v"))
      .groupBy("__t", "__e").agg(max("__v").as("__v"))
    val w = Window.partitionBy("__t").orderBy("__e")
    val seg = obs
      .withColumn("__ne", lead(col("__e"), 1).over(w))
      .withColumn("__nv", lead(col("__v"), 1).over(w))
      .withColumn("__gs", expr("((__e + 3599) div 3600) * 3600"))
      .withColumn("__ge",
        when(col("__ne").isNull, col("__e")).otherwise(col("__ne") - 1))
    seg
      .withColumn("__grid",
        when(col("__gs") <= col("__ge"),
          sequence(col("__gs"), col("__ge"), lit(3600L)))
          .otherwise(array().cast("array<bigint>")))
      .select(col("__t"), col("__e"), col("__v"), col("__ne"), col("__nv"),
        explode(col("__grid")).as("__g"))
      .select(
        col("__t").as(keyCol),
        col("__g").as("grid_epoch"),
        round(
          when(col("__ne").isNull, col("__v"))
            .otherwise(col("__v") + (col("__nv") - col("__v")) *
              ((col("__g") - col("__e")).cast("double") /
                (col("__ne") - col("__e")).cast("double"))), 4)
          .as("value_interp"))
  }
}
