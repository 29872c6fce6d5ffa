package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Generic relational combinators backing the SURVEY.md §2 operator
  * inventory. Everything here is a pure `DataFrame => DataFrame` transform
  * built from Catalyst built-ins: predicate pushdown, column pruning and
  * whole-stage codegen all survive, and every shuffle is an explicit
  * `groupBy`/`join`/`Window` the optimizer can see.
  */
object Ops {

  /** OP-21/35/50/51 — idempotent incremental merge (`INSERT … ON CONFLICT DO
    * NOTHING`, db.py:792-830): append remote rows whose key is absent
    * locally. The anti-join shuffles on `keys` only after pruning the local
    * side to the key columns; at scale pass `broadcastLocalKeys = true` when
    * the local key set is small (e.g. a checksum ledger) to avoid shuffling
    * the remote fact table at all.
    */
  def antiJoinAppend(local: DataFrame, remote: DataFrame, keys: Seq[String],
                     broadcastLocalKeys: Boolean = false): DataFrame = {
    val localKeys0 = local.select(keys.map(col): _*).dropDuplicates(keys)
    val localKeys = if (broadcastLocalKeys) broadcast(localKeys0) else localKeys0
    local.unionByName(remote.join(localKeys, keys, "left_anti"))
  }

  /** OP-17 — conditional column overwrite (`UPDATE t SET c = v WHERE p`). */
  def conditionalOverwrite(df: DataFrame, column: String, cond: Column,
                           value: Column): DataFrame =
    df.withColumn(column, when(cond, value).otherwise(col(column)))

  /** OP-18 — predicate delete (`DELETE FROM t WHERE p`). */
  def predicateDelete(df: DataFrame, cond: Column): DataFrame =
    df.filter(!coalesce(cond, lit(false)))

  /** OP-18 variant — `DELETE … WHERE k IN (subquery)` as an anti-join. */
  def deleteInSubquery(df: DataFrame, keys: Seq[String],
                       victims: DataFrame): DataFrame =
    df.join(broadcast(victims.select(keys.map(col): _*).dropDuplicates(keys)),
      keys, "left_anti")

  /** OP-19 — truncate. */
  def truncate(df: DataFrame): DataFrame = df.limit(0)

  /** OP-16 — line-noise filter (db.py:832-840): drop blank lines and lines
    * starting with `NOTICE:`.
    */
  def cleanLines(df: DataFrame, lineCol: String): DataFrame =
    df.filter(trim(col(lineCol)) =!= "" &&
      !col(lineCol).startsWith("NOTICE:"))

  /** OP-20 — `ADD COLUMN IF NOT EXISTS new` backfilled from `from`. */
  def addColumnIfAbsent(df: DataFrame, name: String, from: Column): DataFrame =
    if (df.columns.contains(name)) df else df.withColumn(name, from)

  /** OP-29/24/32 — newest row per group (the `ls` top-1). One shuffle on the
    * partition keys; Catalyst plans a ranking-limit (window group limit) so
    * no full sort of each partition is materialized.
    */
  def latestPerGroup(df: DataFrame, partitionBy: Seq[String],
                     order: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(partitionBy.map(col): _*)
          .orderBy(order: _*)))
      .filter(col("__rn") === 1).drop("__rn")

  /** OP-31 — GC victims: everything except the newest per group. */
  def victimsPerGroup(df: DataFrame, partitionBy: Seq[String],
                      order: Seq[Column]): DataFrame =
    df.withColumn("__rn",
        row_number().over(Window.partitionBy(partitionBy.map(col): _*)
          .orderBy(order: _*)))
      .filter(col("__rn") > 1).drop("__rn")

  /** Widen an under-partitioned frame before per-row-heavy compute. Small
    * parquet inputs (one row group) arrive as a single partition, which
    * serializes expensive expression pipelines (hashing, shingling, vector
    * math) onto one core; at cluster scale inputs are already wide and this
    * is a no-op. Only repartitions when below `min` — never shrinks, never
    * shuffles an already-wide (100 TB) scan.
    *
    * Plan-only, never runs a job: the earlier form probed
    * `df.rdd.getNumPartitions`, which finalizes the AQE plan and EXECUTES
    * any shuffle stages the frame already contains. Width is instead
    * estimated statically as optimizer-stats size ÷
    * `spark.sql.files.maxPartitionBytes` (exactly how the scan planner
    * sizes its splits), and a frame whose plan already contains a
    * shuffle-inducing node (aggregate/join/sort/window/repartition/limit)
    * is returned untouched — post-exchange frames are already
    * `spark.sql.shuffle.partitions` wide by construction, and widening
    * them was never this function's contract.
    */
  def widen(df: DataFrame, min: Int = 0): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val plan = df.queryExecution.optimizedPlan
    val hasExchange = plan.collectFirst {
      case n @ (_: lp.Aggregate | _: lp.Join | _: lp.Sort | _: lp.Window |
                _: lp.RepartitionOperation | _: lp.Deduplicate |
                _: lp.GlobalLimit | _: lp.SetOperation | _: lp.MapGroups |
                _: lp.CoGroup | _: lp.FlatMapGroupsWithState) => n
    }.nonEmpty
    if (hasExchange) df
    else {
      val target =
        if (min > 0) min else df.sparkSession.sparkContext.defaultParallelism
      // RDD-backed frames report the UNKNOWN-stats sentinel
      // (defaultSizeInBytes = Long.MaxValue), which would read as
      // "already wide" and silently serialize heavy compute. Their true
      // width is plan metadata: the LogicalRDD leaf holds the live RDD
      // object, whose partition array costs nothing to read.
      val rddParts = plan.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD =>
          l.rdd.getNumPartitions
      }
      val wideEnough = rddParts match {
        case Some(n) => n >= target
        case None =>
          val maxPartBytes = org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(df.sparkSession.conf
              .get("spark.sql.files.maxPartitionBytes", "128MB"))
          (plan.stats.sizeInBytes / math.max(1L, maxPartBytes)) + 1 >= target
      }
      if (wideEnough) df else df.repartition(target)
    }
  }

  /** THE fixed-point rendering of a computed real — the one definition of
    * the oracle-compare representation rule: `floor(x·10ᵏ + 0.5)` as BIGINT.
    * Both engines hold bit-identical doubles and `floor` is exact on them;
    * DECIMAL-from-double (`round(x, k)`/CAST) proved engine-version-
    * sensitive (round 1: 11 hash mismatches). Every operator/probe emitting
    * a real goes through this (or mirrors it verbatim in oracle SQL) —
    * don't reintroduce per-site copies.
    */
  def fixedPoint(c: Column, digits: Int): Column =
    floor(c * lit(math.pow(10, digits)) + lit(0.5)).cast("long")

  /** Global 1-based rank over a total order — scale-safe. A bare
    * `row_number().over(Window.orderBy(…))` collapses the whole table into
    * ONE partition (Spark warns `No Partition Defined`), a single-task sort
    * that dies at 100×. Instead: range-repartition on the sort keys (ranges
    * are ordered, so partition i holds globally smaller rows than i+1),
    * rank within each range in parallel, then add per-range offsets. The
    * offsets come from a #partitions-row aggregate — the only narrow step,
    * bounded by partition count, broadcast back. `order` must be a total
    * order (include a unique tiebreak column) for a deterministic rank.
    */
  def globalRank(df: DataFrame, order: Seq[Column],
                 rankName: String = "rank", numRanges: Int = 0,
                 pinned: Boolean = true): DataFrame = {
    require(!Set("__pid", "__r", "__off").contains(rankName),
      s"globalRank: rankName '$rankName' collides with an internal column " +
        "and would be silently dropped")
    val n = if (numRanges > 0) numRanges
            else df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id())
    val within0 = ranged.withColumn("__r",
      row_number().over(Window.partitionBy("__pid").orderBy(order: _*))
        .cast("long"))
    // CROSS-BRANCH CONSISTENCY HAZARD (measured, round 11): the ranged
    // frame feeds TWO branches — the per-partition counts (→ offsets)
    // and the final join. In a plain query the physical planner reuses
    // the range exchange, so both branches see identical partition ids
    // and the ranks are correct. But when this plan is compiled UNDER A
    // CACHE BOUNDARY (the caller persists/localCheckpoints the output),
    // exchange reuse can fail and the branches re-evaluate the range
    // shuffle independently; their spark_partition_id() assignments
    // then disagree and the offsets silently mint DUPLICATE and skipped
    // ranks (nondeterministically — hundreds of collisions per 50k rows
    // measured). `pinned = true` (the DEFAULT — correctness first; any
    // caller can cache/checkpoint downstream without knowing this
    // hazard exists) materializes the within frame ONCE (eager
    // localCheckpoint) so both branches read the same RDD. Costs one
    // materialization of the input; `pinned = false` is opt-OUT for a
    // caller that can prove its plan never crosses a cache boundary.
    val within =
      if (pinned) within0.localCheckpoint(eager = true) else within0
    // tiny frame: one row per range partition. Cumulative offsets via a
    // triangular self-join (≤ n² rows, n = partition count) rather than a
    // global window — keeps the whole plan free of single-partition windows.
    val counts = within.groupBy("__pid").agg(count(lit(1)).as("__c"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.__pid") < col("a.__pid"), "left_outer")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    within.join(broadcast(offsets), "__pid")
      .withColumn(rankName, col("__r") + col("__off"))
      .drop("__pid", "__r", "__off")
  }

  /** Global EXCLUSIVE prefix sum of `weightCol` over a total order —
    * [[globalRank]] generalized from count to weight (rank is the
    * weight-1 case): row r gets the sum of every earlier row's weight.
    * Same scale shape (range repartition → per-partition window →
    * triangular offset join, no single-partition exchange) and the same
    * cross-branch cache-boundary hazard, so the same `pinned = true`
    * default. `order` must be a TOTAL order (include a unique tiebreak
    * column, the [[globalRank]] contract): the window below uses a ROWS
    * frame, so tied keys would get arbitrary (though non-overlapping)
    * relative offsets. The token-packing use: a doc's global token
    * offset is the prefix sum of per-doc token counts in doc-id order.
    */
  def globalExclusivePrefixSum(df: DataFrame, order: Seq[Column],
                               weightCol: String,
                               sumName: String = "prefix_sum",
                               numRanges: Int = 0,
                               pinned: Boolean = true): DataFrame = {
    require(!Set("__pid", "__cw", "__off").contains(sumName),
      s"globalExclusivePrefixSum: sumName '$sumName' collides with an " +
        "internal column and would be silently dropped")
    val n = if (numRanges > 0) numRanges
            else df.sparkSession.sparkContext.defaultParallelism
    val ranged = df.repartitionByRange(n, order: _*)
      .withColumn("__pid", spark_partition_id())
    // ROWS frame, not the default RANGE one: RANGE includes ALL peers of
    // the current key in the running sum, so two rows tied on `order`
    // would each count the other's weight and mint OVERLAPPING offsets
    val within0 = ranged.withColumn("__cw",
      sum(col(weightCol)).over(
          Window.partitionBy("__pid").orderBy(order: _*)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("long") - col(weightCol).cast("long"))
    val within =
      if (pinned) within0.localCheckpoint(eager = true) else within0
    val counts = within.groupBy("__pid")
      .agg(sum(col(weightCol)).cast("long").as("__c"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.__pid") < col("a.__pid"), "left_outer")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    within.join(broadcast(offsets), "__pid")
      .withColumn(sumName, col("__cw") + col("__off"))
      .drop("__pid", "__cw", "__off")
  }

  /** Exact interpolated per-group percentiles WITHOUT a per-group value
    * buffer — the scale path q66's `percentile` aggregate lacks: Spark's
    * `percentile` holds every value of a group in one aggregation buffer
    * (~n/G doubles in a single task), which is an OOM at 100×, not a
    * slowdown. Here the heavy data only ever flows through
    *  1. one range shuffle on (group, value) — a huge group legitimately
    *     SPANS partitions, nothing concentrates it;
    *  2. per-partition row_number + per-(partition, group) counts (tiny);
    *  3. per-group prefix offsets over partitions (≤ ranges×groups rows,
    *     same triangular-join trick as [[globalRank]] — no global window);
    *  4. a join back to pick the ≤ 2·|ps| ranked rows each group needs.
    * The interpolation is Spark `percentile`'s own R-7 formula
    * (pos = p·(n−1); (hi−pos)·v_lo + (pos−lo)·v_hi, collapsing to v_lo when
    * hi = lo), so results are bit-identical to the bounded-group form and
    * to DuckDB's `quantile_cont` (q66's measured parity). NULL values are
    * ignored, like both reference aggregates. Output is long-form:
    * (groupCols…, p, value), one row per group × percentile.
    */
  def exactPercentiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       ps: Seq[Double], numRanges: Int = 0,
                       pinned: Boolean = true): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1))
    val n = if (numRanges > 0) numRanges
            else df.sparkSession.sparkContext.defaultParallelism
    val gcols = groupCols.map(col)
    val sameGroup = (l: String => Column, r: String => Column) =>
      groupCols.map(g => l(g) <=> r(g)).reduce(_ && _)

    val ranged = df.select((groupCols :+ valueCol).map(col): _*)
      .filter(col(valueCol).isNotNull)
      .repartitionByRange(n, gcols :+ col(valueCol): _*)
      .withColumn("__pid", spark_partition_id())
    // per-partition, per-group rank: the window key includes __pid, so no
    // group is ever concentrated onto one task
    val within0 = ranged.withColumn("__r",
      row_number().over(Window.partitionBy(("__pid" +: groupCols).map(col): _*)
        .orderBy(col(valueCol))).cast("long"))
    // same cross-branch consistency hazard as [[globalRank]] (the within
    // frame feeds the counts branch AND the ranked join): pinned = true is
    // the DEFAULT for the same correctness-first reason — a future
    // persist/checkpoint consumer must not silently inherit duplicate
    // ranks; pinned = false is opt-OUT for plans proven cache-free
    val within =
      if (pinned) within0.localCheckpoint(eager = true) else within0

    val cnt = within.groupBy(("__pid" +: groupCols).map(col): _*)
      .agg(count(lit(1)).as("__c"))
    val cntB = groupCols.foldLeft(
      cnt.withColumnRenamed("__pid", "__bpid").withColumnRenamed("__c", "__bc")
    )((d, g) => d.withColumnRenamed(g, "__b_" + g))
    val offsets = cnt.join(cntB,
        sameGroup(col, g => col("__b_" + g)) && (col("__bpid") < col("__pid")),
        "left_outer")
      .groupBy(("__pid" +: groupCols).map(col): _*)
      .agg(coalesce(sum(col("__bc")), lit(0L)).as("__off"))

    // offsets / needs are ranges×groups- and groups×|ps|-sized: group-count-
    // bounded, so NO forced broadcast — AQE picks the strategy at runtime
    val ranked = within.join(offsets, "__pid" +: groupCols)
      .withColumn("__rank0", col("__r") + col("__off") - 1)

    val groupN = cnt.groupBy(gcols: _*).agg(sum(col("__c")).as("__n"))
    val needs = groupN
      .withColumn("p", explode(array(ps.map(lit): _*)))
      .withColumn("__pos", col("p") * (col("__n") - 1).cast("double"))
      .withColumn("__lo", floor(col("__pos")).cast("long"))
      .withColumn("__hi", ceil(col("__pos")).cast("long"))
      .select(groupCols.map(g => col(g).as("__n_" + g)) ++ Seq(col("p"), explode(
        when(col("__hi") === col("__lo"),
          array(struct(col("__lo").as("need"), lit(1.0).as("w"))))
        .otherwise(array(
          struct(col("__lo").as("need"),
            (col("__hi").cast("double") - col("__pos")).as("w")),
          struct(col("__hi").as("need"),
            (col("__pos") - col("__lo").cast("double")).as("w"))))).as("nw")): _*)
      .select(groupCols.map(g => col("__n_" + g)) ++
        Seq(col("p"), col("nw.need").as("__need"), col("nw.w").as("__w")): _*)

    ranked.join(needs,
        sameGroup(col, g => col("__n_" + g)) && col("__rank0") === col("__need"))
      .groupBy(gcols :+ col("p"): _*)
      .agg(sum(col(valueCol) * col("__w")).as("value"))
  }

  /** Salted equi-join for skewed keys: salt the skewed (left) side with a
    * random-free deterministic salt from a stable column, replicate the
    * build (right) side across `saltFactor` salt values, join on
    * (keys, salt). Turns one hot key's single straggler task into
    * `saltFactor` parallel tasks.
    *
    * Measured (SCALE.md §round-7 skew, 6M-row fact with 99% of rows on ONE
    * key, 15k-row dim, broadcast off): unsalted wall 2.4-2.7 s with a
    * 1.9-2.2 s straggler task against a 130-190 ms task p50 — AND AQE's
    * skew-join fix did NOT engage, because the hot partition (~50 MB)
    * sits under `skewedPartitionThresholdInBytes` (256 MB default). That
    * is this operator's niche: skew that straggles the stage but is too
    * small for AQE's fix, or aggregation-after-join shapes AQE's split
    * can't cover. saltFactor=16 (the measured default) cut wall to
    * 0.96 s with max task 386 ms (flat profile); the cost — dim
    * replicated 16× — was noise for the dimension sizes this is for.
    * At the un-skewed 1x scale salt=16 matched the unsalted join
    * (0.65 s vs 0.64 s), so the default is safe to leave on for
    * suspected-hot workloads. Full rows in SCALE.md §round-7 skew.
    */
  def saltedJoin(skewed: DataFrame, dim: DataFrame, keys: Seq[String],
                 saltFactor: Int = 16, saltBy: String): DataFrame = {
    val salted = skewed.withColumn("__salt",
      pmod(xxhash64(col(saltBy)), lit(saltFactor)).cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(array((0 until saltFactor).map(lit): _*)))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** OP-37 — union of tagged slices where the highest-priority source wins
    * per key (dict-merge semantics, main.py:258-265).
    */
  def lastWins(slices: Seq[(DataFrame, Int)], keys: Seq[String],
               order: Seq[Column]): DataFrame = {
    val tagged = slices.map { case (df, pri) => df.withColumn("__src", lit(pri)) }
    val u = tagged.reduce(_ unionByName _)
    latestPerGroup(u, keys, col("__src").desc +: order).drop("__src")
  }
}
