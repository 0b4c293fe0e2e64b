package graft.lagops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the canonical events shape — the
  * funnel / cohort-retention / gap-interpolation trio every
  * product-analytics engine ships (and the natural consumers of the
  * lag machinery's per-entity total order).
  *
  * Scale shape shared by all three: ONE exchange keyed by the entity
  * (user / series), then window or combinable-aggregate passes over
  * that partitioning. No operator here ever shuffles event rows a
  * second time; the outputs are entity- or matrix-sized.
  */
object EventAnalytics {

  /** Ordered funnel conversion: how many users reach step 1, then step
    * 2 STRICTLY AFTER their first qualifying step-1 event, then step 3
    * after that, … for `steps` event types. The classic formulation
    * (per-user earliest time of each step, each constrained to follow
    * the previous step's earliest time) runs as ONE user-keyed
    * shuffle + one sort, with one running-min window column per step:
    *
    *   a₁(row) = min earliest step-1 order key among STRICTLY EARLIER
    *             rows (frame … to -1); a step-k row qualifies iff its
    *             type is steps(k) and a₍k₋₁₎ is non-null (an earlier
    *             qualifying step-(k-1) event exists); a_k is the
    *             running min of qualifying step-k order keys.
    *
    * The chained window columns share one partitioning and one order,
    * so Catalyst plans a single Exchange + Sort and stacked Window
    * operators — no per-step shuffle. The final reduce is a combinable
    * boolean aggregate per user, then a tiny per-step count.
    *
    * Output: (step_idx, step, n_users), n_users non-increasing in
    * step_idx.
    *
    * Semantics note: "strictly after" means strictly earlier in the
    * (orderCols) ROW order, not strictly earlier in time. The two agree
    * exactly when the leading order column (typically the timestamp) is
    * unique per user; with duplicate timestamps a step-k event at the
    * same instant as its step-(k-1) predecessor counts or not according
    * to the TIEBREAK column's order, where the classic min-time
    * formulation would never count it. Callers comparing against a
    * time-based oracle must guarantee unique per-user timestamps.
    *
    * @param orderCols total order within a user (include a unique
    *                  tiebreak, same contract as [[LagSpec.orderCols]])
    */
  def funnel(df: DataFrame, userCol: String, typeCol: String,
             orderCols: Seq[String], steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(orderCols.nonEmpty, "orderCols must provide a total order")
    val ord = struct(orderCols.map(col): _*)
    val strictlyBefore = Window.partitionBy(col(userCol))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    // qual_k: this row is a step-k event preceded by a qualifying
    // step-(k-1) chain. reach_k: running evidence for step k.
    var cur = df.withColumn("_q1",
      when(col(typeCol) === steps.head, ord))
    for (k <- 1 until steps.length) {
      val prevReach = min(col(s"_q$k")).over(strictlyBefore)
      cur = cur.withColumn(s"_q${k + 1}",
        when(col(typeCol) === steps(k) && prevReach.isNotNull, ord))
    }
    val reachAggs = steps.indices.map(i =>
      max(col(s"_q${i + 1}").isNotNull).as(s"_r${i + 1}"))
    val reached = cur.groupBy(col(userCol))
      .agg(reachAggs.head, reachAggs.tail: _*)
    // ONE global reduce to a single row of per-step counts (combinable
    // partials), then explode to the per-step output shape
    val countAggs = steps.indices.map(i =>
      sum(when(col(s"_r${i + 1}"), 1L).otherwise(0L)).as(s"_n${i + 1}"))
    reached.agg(countAggs.head, countAggs.tail: _*)
      .select(explode(array(steps.indices.map(i =>
        struct(lit(i + 1).as("step_idx"), lit(steps(i)).as("step"),
          col(s"_n${i + 1}").as("n_users"))): _*)).as("s"))
      .select("s.*")
  }

  /** Cohort retention: users are cohorted by the period of their FIRST
    * event, and each later active period counts toward
    * (cohort, offset). Two aggregates over the same user-keyed
    * partitioning — first-event per user, distinct active periods per
    * user — then a user-sized join and a matrix-sized count. The
    * output is |cohorts| × |offsets| rows: tiny at any corpus scale.
    *
    * @param bucket date_trunc unit for the cohort period ("week",
    *               "day", "month"); offsets count whole periods via
    *               day difference / period length, exact for "day" and
    *               "week" (fixed-length periods)
    */
  /** Equi-width value histogram per group — the distribution primitive
    * behind every monitoring dashboard and drift check. Bucket
    * `floor(value / width)` clamped into `[0, nBuckets)` (the two edge
    * buckets absorb outliers, so the output is bounded at
    * groups × nBuckets rows no matter the data), plus the observed
    * min/max per bucket so a reader can see edge-bucket saturation.
    *
    * Scale shape: ONE combinable hash aggregate — map-side partials
    * collapse each partition to ≤ groups × nBuckets rows before the
    * only shuffle. Integer bucket arithmetic (floor of an exact
    * division grid), so the hash gate has no float surface beyond the
    * 6dp-rounded min/max.
    */
  def histogram(df: DataFrame, groupCol: String, valueCol: String,
                width: Double, nBuckets: Int): DataFrame = {
    require(width > 0 && !width.isNaN && !width.isInfinite,
      s"width must be finite and > 0, got $width")
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val b = least(greatest(floor(col(valueCol) / width), lit(0.0)),
      lit((nBuckets - 1).toDouble)).cast("long")
    df.groupBy(col(groupCol), b.as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min(col(valueCol)), 6).as("lo_seen"),
        round(max(col(valueCol)), 6).as("hi_seen"))
  }

  /** Exact distribution-window statistics — ntile(`tiles`),
    * percent_rank, cume_dist — over a (`valueCol`, `idCol`) total
    * order per group, WITHOUT the single-task-per-group sort the
    * direct window form plans.
    *
    * `ntile(k) OVER (PARTITION BY g ORDER BY v)` keeps one Spark task
    * alive per distinct `g` forever: with a handful of groups the sort
    * is effectively single-threaded at any corpus size (the shape that
    * made the direct form the second-worst scaling row on the anchor
    * table). This operator re-keys the work on (group, range-bucket):
    *
    *  1. per group, `buckets`-quantile cut points from ONE
    *     `percentile_approx` aggregate (map-side combinable; the
    *     approximation only balances work — the rank fix-up below
    *     keeps the answer exact, so run-to-run sketch variation can
    *     never change the output);
    *  2. each row's bucket = #cuts strictly below its value (ties
    *     land with their equals in the lower bucket, so bucket order
    *     respects value order and equal values never split);
    *  3. local row_number within (group, bucket) — the expensive sort,
    *     now parallel across `buckets` tasks per group — plus a
    *     bucket-count prefix sum over a groups×buckets-sized frame
    *     gives the exact global rank: rank = offset + local row
    *     number;
    *  4. the three statistics are pure arithmetic in (rank, n): with a
    *     UNIQUE tiebreak id every row is its own peer group, so
    *     percent_rank = (rank-1)/(n-1), cume_dist = rank/n, and
    *     ntile's first-(n mod k)-tiles-get-one-extra rule is a closed
    *     form. Exactness therefore requires `idCol` unique within its
    *     group — the same precondition the direct form needs to be
    *     deterministic at all.
    *
    * Scale shape: one combinable aggregate (cuts), one combinable
    * aggregate (bucket counts), two broadcast joins of groups- and
    * groups×buckets-sized frames, and ONE data-sized exchange keyed
    * (group, bucket) whose per-task partition is ~1/`buckets` of a
    * group. No corpus-sized single-partition sort anywhere.
    */
  def distributionStats(df: DataFrame, groupCol: String, valueCol: String,
                        idCol: String, tiles: Int = 4,
                        buckets: Int = 32): DataFrame = {
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val pcts = array((1 until buckets).map(i =>
      lit(i.toDouble / buckets)): _*)
    val cuts = df.groupBy(col(groupCol))
      .agg(percentile_approx(col(valueCol), pcts, lit(10000)).as("_cuts"))
    // NULL values route to sentinel bucket -1 (sorts before every real
    // bucket; the within-bucket order below is asc_nulls_first), so
    // they take the LOWEST ranks — exactly where the direct
    // ntile/percent_rank window's default nulls-first ordering puts
    // them. Without the sentinel a NULL _b would silently drop the row
    // at the inner join — a contract divergence from the single-window
    // form.
    val bucketed = df
      .join(broadcast(cuts), Seq(groupCol))
      .withColumn("_b", when(col(valueCol).isNull, lit(-1))
        .otherwise(graft.functions.Kernels.countBelow(
          col(valueCol).cast("double"), col("_cuts"))))
      .drop("_cuts")
    val counts = bucketed.groupBy(col(groupCol), col("_b"))
      .agg(count(lit(1)).as("_cnt"))
    val wPrefix = Window.partitionBy(col(groupCol)).orderBy(col("_b"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTotal = Window.partitionBy(col(groupCol))
    val offsets = counts
      .withColumn("_off", coalesce(sum(col("_cnt")).over(wPrefix), lit(0L)))
      .withColumn("_n", sum(col("_cnt")).over(wTotal))
      .drop("_cnt")
    val wLocal = Window.partitionBy(col(groupCol), col("_b"))
      .orderBy(col(valueCol).asc, col(idCol).asc)
    val ranked = bucketed
      .join(broadcast(offsets), Seq(groupCol, "_b"))
      .withColumn("_rank", col("_off") + row_number().over(wLocal))
    // ntile(k): first (n % k) tiles take ceil(n/k) rows, the rest
    // floor(n/k) — the closed form of the SQL-standard rule. The
    // `otherwise` branch divides by _base only when rank exceeds the
    // big-tile region, which implies _base >= 1 (CaseWhen keeps the
    // division lazy; greatest() belts the unreachable _base=0 case)
    // exact long floor-division: subtract the remainder first so the
    // double division is of a multiple — no representation wobble
    val rem = col("_n") % lit(tiles.toLong)
    val base = ((col("_n") - rem) / lit(tiles.toLong)).cast("long")
    val bigRegion = rem * (base + 1)
    val quartile = when(col("_rank") <= bigRegion,
        floor((col("_rank") - 1) / (base + 1)) + 1)
      .otherwise(rem + floor((col("_rank") - bigRegion - 1) /
        greatest(base, lit(1L))) + 1)
    ranked.select(col(idCol), col(groupCol), col(valueCol),
      quartile.cast("int").as("quartile"),
      round(when(col("_n") === 1, 0.0)
        .otherwise((col("_rank") - 1).cast("double") / (col("_n") - 1)), 6)
        .as("pct_rank"),
      round(col("_rank").cast("double") / col("_n"), 6).as("cume"))
  }

  def retention(df: DataFrame, userCol: String, timeCol: String,
                bucket: String = "week"): DataFrame = {
    val periodDays = bucket match {
      case "day" => 1
      case "week" => 7
      case other => throw new IllegalArgumentException(
        s"retention supports fixed-length buckets day/week, got $other")
    }
    val cohorts = df.groupBy(col(userCol))
      .agg(date_trunc(bucket, min(col(timeCol))).as("cohort"))
    val active = df
      .select(col(userCol), date_trunc(bucket, col(timeCol)).as("period"))
      .distinct()
    active.join(cohorts, userCol)
      .select(col("cohort"),
        (datediff(col("period"), col("cohort")) / periodDays)
          .cast("int").as("offset"))
      .groupBy(col("cohort"), col("offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Linear interpolation of missing values (the gap-fill strategy
    * beside [[Ffill]]'s LOCF): a null value between two observations
    * is replaced by the time-weighted line through its neighbors;
    * leading gaps back-fill from the next observation, trailing gaps
    * forward-fill from the previous (pandas `interpolate(
    * limit_direction="both")` semantics). Two window passes over one
    * (series, order)-keyed exchange — ascending and descending sorts
    * of the same partitioning.
    *
    * @param timeCol NUMERIC time axis (e.g. `ts_ns`) — the
    *                interpolation weights divide time deltas
    */
  def interpolate(df: DataFrame, valueCol: String, timeCol: String,
                  seriesCols: Seq[String], orderCols: Seq[String])
      : DataFrame = {
    require(orderCols.nonEmpty, "orderCols must provide a total order")
    // the look-ahead side runs as a running `last` over the REVERSED
    // order — both frames are Spark's incremental unbounded-PRECEDING
    // frame, O(rows); a `first().over(current..unboundedFollowing)`
    // frame would recompute per row, O(partition²) (the AsOfJoin
    // forward-scan lesson). Two sorts, one exchange.
    val fwd = orderCols.map(col)
    val rev = orderCols.map(col(_).desc)
    val (before, after) =
      if (seriesCols.isEmpty)
        (Window.orderBy(fwd: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow),
         Window.orderBy(rev: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
      else
        (Window.partitionBy(seriesCols.map(col): _*).orderBy(fwd: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow),
         Window.partitionBy(seriesCols.map(col): _*).orderBy(rev: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val v = col(valueCol)
    val t = col(timeCol).cast("double")
    val tObs = when(v.isNotNull, t)
    val pv = last(v, ignoreNulls = true).over(before)
    val pt = last(tObs, ignoreNulls = true).over(before)
    val nv = last(v, ignoreNulls = true).over(after)
    val nt = last(tObs, ignoreNulls = true).over(after)
    df.withColumn(s"${valueCol}_interp",
      when(v.isNotNull, v)
        .when(pv.isNull, nv)                       // leading gap: back-fill
        .when(nv.isNull, pv)                       // trailing gap: LOCF
        // duplicate-timestamp neighbors: nt == pt would make the slope
        // term 0/0 (Spark Divide → null), silently dropping an interior
        // fill; degenerate bracket takes the previous observation
        .when(nt === pt, pv)
        .otherwise(pv + (nv - pv) * (t - pt) / (nt - pt)))
  }

  /** Gap-based debounce: collapse BURSTS of events — consecutive rows
    * of one key whose inter-arrival gap is ≤ `gapNs` — to their first
    * row, the standard ingest dedup for at-least-once delivery
    * (producer retries, double-clicks, webhook redeliveries). A new
    * burst starts at each row whose gap from its predecessor exceeds
    * `gapNs`; the burst id is the running sum of those starts — the
    * sessionize trick applied to dedup.
    *
    * Scale shape: ONE exchange keyed by `keyCols` (lag + running sum
    * share the sort), then a combinable aggregate whose grouping keys
    * extend the partitioning keys — Catalyst sees the existing hash
    * partitioning satisfies the clustered distribution, so the
    * aggregate adds NO second exchange. Output is burst-sized.
    *
    * Output: keyCols..., first_event (min of the order struct's
    * trailing id), burst_start (min time), n_collapsed.
    *
    * @param orderCols total order within a key: (time, unique tiebreak)
    */
  def debounce(df: DataFrame, keyCols: Seq[String], timeCol: String,
               idCol: String, orderCols: Seq[String],
               gapNs: Long): DataFrame = {
    require(keyCols.nonEmpty, "debounce needs at least one key column")
    require(orderCols.nonEmpty, "orderCols must provide a total order")
    require(gapNs > 0, s"gapNs must be positive, got $gapNs")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val prevT = lag(col(timeCol), 1).over(w)
    val newBurst =
      when(prevT.isNull || col(timeCol) - prevT > gapNs, 1L).otherwise(0L)
    val ord = struct(orderCols.map(col): _*)
    df.withColumn("_burst", sum(newBurst).over(run))
      .groupBy((keyCols.map(col) :+ col("_burst")): _*)
      .agg(min_by(col(idCol), ord).as("first_event"),
        min(col(timeCol)).as("burst_start"),
        count(lit(1)).as("n_collapsed"))
      .drop("_burst")
  }
}
