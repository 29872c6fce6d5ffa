package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** User-journey analytics over event streams: ordered funnel-step
  * matching and cohort retention — the two classic product-analytics
  * queries a warehouse team runs daily over exactly this `events` shape.
  *
  * Scale shape: both operators are chains of user-keyed hash aggregates
  * and equi joins (partial-agg combines map-side; the per-step frames are
  * user-bounded, far below event count) — no windows over a user's full
  * history, no sorts, no state proportional to events per user.
  */
object Journeys {

  /** Ordered funnel: for each user who performed `steps.head`, the
    * earliest time of each SUBSEQUENT step that happened strictly after
    * the previous step's matched time — the standard "view → click →
    * purchase" conversion question with strict event ordering (a click
    * before the first view does not count).
    *
    * Output: (userCol, t0..t{k-1} — step-match timestamps, NULL once the
    * funnel broke — plus `steps_reached`). Only funnel ENTRANTS (users
    * with a step-0 event) appear; per-user rows are unique.
    *
    * ONE pass over events: collect each user's step-typed events, sort
    * within the user, and greedily fold the earliest chain — when a
    * step-k event arrives in time order, it matches iff step k−1 already
    * matched strictly earlier and k is still open. The greedy earliest
    * chain IS the k-pass chain (one filtered min-aggregate per step,
    * joined back on the user: each pass takes the min time after the
    * previous match, and processing ascending times matches the same
    * minima). The k-pass form is q124's oracle SQL, which pins this chain
    * hash-for-hash, and JourneysSpec checks it against a plain-Scala
    * k-pass reference.
    *
    * Trade against the k-pass form: events is READ ONCE (at 100 TB the
    * k-fold scan is the k-pass form's dominant cost; measured 2.5×
    * faster at 1× AND 10×, SCALE.md round-10 row pair) for one user-keyed
    * shuffle carrying each user's step-typed events; the fold state is
    * |steps| timestamps. The per-user collect is bounded by that user's
    * STEP-TYPE events — the type filter still pushes to the scan — so
    * skew only matters for users with pathological step-event counts
    * (the k-pass form shuffles the same rows, k times).
    */
  def funnelSteps(events: DataFrame, userCol: String, tsCol: String,
                  typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnelSteps: at least one step")
    require(steps.distinct.size == steps.size,
      "funnelSteps: repeated step types are ambiguous")
    val k = steps.size
    val tsType = events.schema(tsCol).dataType
    val stepIdx = steps.zipWithIndex.tail.foldLeft(
      when(col(typeCol) === steps.head, lit(0))) {
      case (acc, (s, i)) => acc.when(col(typeCol) === s, lit(i))
    }
    val per = events.filter(col(typeCol).isInCollection(steps))
      .select(col(userCol),
        struct(col(tsCol).as("ts"), stepIdx.as("k")).as("e"))
      .groupBy(userCol).agg(sort_array(collect_list(col("e"))).as("__es"))
    // fold state: array of k matched times (null = step open). Ties sort
    // (ts, k) ascending, and the strict `>` against the previous match
    // reproduces the k-pass exclusion of same-instant successors.
    val folded = per.withColumn("__acc",
      aggregate(col("__es"),
        array_repeat(lit(null).cast(tsType), k),
        (acc, e) => transform(acc, (x, i) => {
          // prev slot is 1-based index e.k; the greatest() guard keeps
          // the index legal when e.k = 0 (the when() arm wins there, but
          // ANSI element_at(…, 0) must never be constructed)
          val prev = element_at(acc, greatest(e.getField("k"), lit(1)))
          val prevOk = when(e.getField("k") === 0, lit(true))
            .otherwise(prev.isNotNull && e.getField("ts") > prev)
          when(i === e.getField("k") && x.isNull && prevOk,
            e.getField("ts")).otherwise(x)
        })))
    val tCols = steps.indices.map(i =>
      element_at(col("__acc"), i + 1).as(s"t$i"))
    val reached = steps.indices.map(i =>
      element_at(col("__acc"), i + 1).isNotNull.cast("long")).reduce(_ + _)
    folded
      .filter(element_at(col("__acc"), 1).isNotNull) // entrants only
      .select((col(userCol) +: tCols) :+ reached.as("steps_reached"): _*)
  }

  /** Weekly cohort retention: users grouped by the week of their FIRST
    * event; for each (cohort week, weeks-since-first k) the count of
    * cohort members active in week k and the retention rate against the
    * cohort size. Week indexing is pure integer day arithmetic from the
    * Monday epoch (1970-01-05) — engine-stable, no locale/week-start
    * semantics in play.
    *
    * Output: (cohort_wk, period_wk, active_users, cohort_size,
    * retention_e4), period 0 always present with retention 10000.
    * Shape: one user min-aggregate, one join back to events (user-keyed),
    * one distinct-count aggregate on (cohort, period), one bounded join
    * for the rate — all hash-partitioned, no windows.
    */
  def cohortRetention(events: DataFrame, userCol: String,
                      tsCol: String): DataFrame = {
    val mondayEpoch = to_date(lit("1970-01-05"))
    def wk(c: org.apache.spark.sql.Column) =
      floor(datediff(c.cast("date"), mondayEpoch) / 7).cast("long")
    val first = events.groupBy(userCol).agg(min(tsCol).as("__first"))
      .select(col(userCol), wk(col("__first")).as("cohort_wk"))
    val activity = events.select(col(userCol), col(tsCol))
      .join(first, Seq(userCol))
      .select(col(userCol), col("cohort_wk"),
        (wk(col(tsCol)) - col("cohort_wk")).as("period_wk"))
      .groupBy("cohort_wk", "period_wk")
      .agg(countDistinct(col(userCol)).as("active_users"))
    val sizes = first.groupBy("cohort_wk")
      .agg(countDistinct(col(userCol)).as("cohort_size"))
    activity.join(sizes, Seq("cohort_wk"))
      .select(col("cohort_wk"), col("period_wk"), col("active_users"),
        col("cohort_size"),
        graft.core.Ops.fixedPoint(
          col("active_users") * lit(1.0) / col("cohort_size"), 4)
          .as("retention_e4"))
  }
}
