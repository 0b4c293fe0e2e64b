package graft
package registry

import graft.lagops.{DistributedLag, LagMatrix, LagSpec, Lead, Rolling}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** The reference lag-matrix family (SURVEY §2.1 O1-O9) and the event
  * series operators built on the same windows: lag and lead matrices,
  * rolling, EWMA and forward-fill, funnels, retention and cohorts,
  * interpolation, debounce, autocorrelation, decomposition, anomaly
  * scores, histograms and resampling. Every oracle replays its window
  * over `events` in the `EvW` / `EvWP` order.
  */
private[graft] object LagRows {

  private val INF = "CAST('infinity' AS DOUBLE)"

  /** Order/partition clause shared by all events-window oracles. */
  private val EvW = "ORDER BY ts, event_id"
  private val EvWP = "PARTITION BY user_id ORDER BY ts, event_id"

  lazy val rows: Seq[Row] = Seq(
    Row("lag_1d", (s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value", LagSpec(Seq("ts_ns", "event_id"), Nil,
          Seq(0, 1, 2, 3), Some(Double.PositiveInfinity)))
        .select("event_id", "value", "value_lag_1", "value_lag_2", "value_lag_3")
    },
      s"""SELECT event_id, value,
          lag(value,1,$INF) OVER ($EvW) AS value_lag_1,
          lag(value,2,$INF) OVER ($EvW) AS value_lag_2,
          lag(value,3,$INF) OVER ($EvW) AS value_lag_3
          FROM events"""),

    Row("lag_1d_arbitrary_order", (s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(3, 1, 2), None))
        .select("event_id", "value_lag_3", "value_lag_1", "value_lag_2")
    },
      s"""SELECT event_id,
          lag(value,3) OVER ($EvW) AS value_lag_3,
          lag(value,1) OVER ($EvW) AS value_lag_1,
          lag(value,2) OVER ($EvW) AS value_lag_2
          FROM events"""),

    Row("lag_null_fill", (s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(0, 2), None))
        .select("event_id", "value", "value_lag_2")
    },
      s"""SELECT event_id, value, lag(value,2) OVER ($EvW) AS value_lag_2
          FROM events"""),

    Row("lag_2d_partitioned", (s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.wide(ev, "value", LagSpec(Seq("ts_ns", "event_id"),
          Seq("user_id"), Seq(0, 1, 2, 3), Some(Double.PositiveInfinity)))
        .select("user_id", "event_id", "value",
          "value_lag_1", "value_lag_2", "value_lag_3")
    },
      s"""SELECT user_id, event_id, value,
          lag(value,1,$INF) OVER ($EvWP) AS value_lag_1,
          lag(value,2,$INF) OVER ($EvWP) AS value_lag_2,
          lag(value,3,$INF) OVER ($EvWP) AS value_lag_3
          FROM events"""),

    Row("lag_long_format", (s, dir) => {
      val ev = Tables.events(s, dir)
      LagMatrix.long(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1, 2), None))
        .select("user_id", "event_id", "lag", "value")
    },
      s"""SELECT user_id, event_id, 1 AS lag, lag(value,1) OVER ($EvWP) AS value FROM events
          UNION ALL
          SELECT user_id, event_id, 2 AS lag, lag(value,2) OVER ($EvWP) AS value FROM events"""),

    Row("lag_2d_colmajor", (s, dir) => {
      // the ColumnMajor ingest edge (reference src/lib.rs:999-1075,
      // ndarray_support.rs): a fixed flat column-major matrix (3 series
      // × 8 steps) is layout-normalized by SeriesInput.from2D, then
      // lagged exactly like any long-format input. Independent of `dir`
      // on purpose — the matrix is the reference-test-style literal.
      val data = (1 to 24).map(_.toDouble)
      LagMatrix.wide(
          graft.lagops.SeriesInput.from2D(s, data,
            graft.lagops.ColumnMajor(8)),
          "value", LagSpec(Seq("t"), Seq("series_id"), Seq(0, 1, 2),
            Some(-1.0)))
        .select(col("series_id").cast("long").as("series_id"), col("t"),
          col("value"), col("value_lag_1"), col("value_lag_2"))
    },
      """WITH m AS (SELECT s.s AS series_id, t.t AS t,
           CAST(t.t * 3 + s.s + 1 AS DOUBLE) AS value
           FROM (SELECT unnest(generate_series(0, 2)) AS s) s,
                (SELECT unnest(generate_series(0, 7)) AS t) t)
         SELECT series_id, t, value,
           lag(value, 1, -1.0) OVER w AS value_lag_1,
           lag(value, 2, -1.0) OVER w AS value_lag_2
         FROM m WINDOW w AS (PARTITION BY series_id ORDER BY t)"""),

    Row("lead_1d", (s, dir) => {
      val ev = Tables.events(s, dir)
      Lead.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(0, 1, 2), None))
        .select("event_id", "value", "value_lead_1", "value_lead_2")
    },
      s"""SELECT event_id, value,
          lead(value,1) OVER ($EvW) AS value_lead_1,
          lead(value,2) OVER ($EvW) AS value_lead_2
          FROM events"""),

    Row("lag_matrix_array", (s, dir) => {
      // uses the codegen'd ArrayShiftExpr (one allocation per row); the
      // built-in-composition twin ArrayLag.shift is equivalence-tested
      val emb = Tables.embeddings(s, dir)
      emb.select(col("vec_id"),
          posexplode(graft.functions.ArrayShiftExpr(col("embedding"), 2, None))
            .as(Seq("pos", "v")))
        .select(col("vec_id"), col("pos"), col("v").cast("double").as("val"))
    },
      """SELECT vec_id, i - 1 AS pos,
         CASE WHEN i <= 2 THEN NULL ELSE CAST(embedding[i-2] AS DOUBLE) END AS val
         FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i FROM embeddings)"""),

    Row("lag_distributed", (s, dir) => {
      // same result as a global-order lag, computed via range buckets +
      // boundary pads (no single-partition window) — the 100 TB path
      val ev = Tables.events(s, dir)
      DistributedLag.wide(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Nil, Seq(0, 1, 2, 3), None),
          numBuckets = 32)
        .select("event_id", "value", "value_lag_1", "value_lag_2", "value_lag_3")
    },
      s"""SELECT event_id, value,
          lag(value,1) OVER ($EvW) AS value_lag_1,
          lag(value,2) OVER ($EvW) AS value_lag_2,
          lag(value,3) OVER ($EvW) AS value_lag_3
          FROM events"""),

    Row("rolling_agg", (s, dir) => {
      val ev = Tables.events(s, dir)
      Rolling.over(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)), 4)
        .select(col("user_id"), col("event_id"), col("value"),
          round(col("value_roll_avg_4"), 6).as("roll_avg"),
          round(col("value_roll_sum_4"), 6).as("roll_sum"),
          col("value_roll_min_4").as("roll_min"),
          col("value_roll_max_4").as("roll_max"),
          col("value_roll_n_4").as("roll_n"))
    },
      s"""SELECT user_id, event_id, value,
          round(avg(value) OVER w, 6) AS roll_avg,
          round(sum(value) OVER w, 6) AS roll_sum,
          min(value) OVER w AS roll_min,
          max(value) OVER w AS roll_max,
          count(value) OVER w AS roll_n
          FROM events
          WINDOW w AS ($EvWP ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)"""),

    Row("ewma", (s, dir) => {
      // per-user exponentially-weighted value (alpha 0.3, 16 terms):
      // one collapsed Window pass over all 16 weighted lag columns
      val ev = Tables.events(s, dir)
      graft.lagops.Ewma.over(ev, "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1), None),
          alpha = 0.3, window = 16)
        .select("user_id", "event_id", "value", "value_ewma")
    }, {
      // the identical truncated weighted sum, left-associated in the
      // same order, weights embedded as the same shortest-round-trip
      // double literals Spark's plan carries (duckPlaneDot precedent)
      val alpha = 0.3; val win = 16
      val ws = (0 until win).map(j => math.pow(1.0 - alpha, j).toString)
      def lagSql(j: Int) =
        if (j == 0) "value" else s"lag(value, $j) OVER w"
      val numer = (0 until win).map(j =>
        s"(CASE WHEN ${lagSql(j)} IS NULL THEN 0.0 ELSE ${ws(j)} * ${lagSql(j)} END)")
        .mkString(" + ")
      val denom = (0 until win).map(j =>
        s"(CASE WHEN ${lagSql(j)} IS NULL THEN 0.0 ELSE ${ws(j)} END)")
        .mkString(" + ")
      s"""SELECT user_id, event_id, value,
          round(($numer) / ($denom), 6) AS value_ewma
          FROM events WINDOW w AS ($EvWP)"""
    }),

    Row("lag_ffill", (s, dir) => {
      // gap-filling: ~20% of values knocked out deterministically, then
      // forward-filled per user (LOCF); leading gaps -> -1 sentinel so
      // the nullable double survives the oracle hash-compare
      val ev = Tables.events(s, dir)
        .withColumn("v_sparse",
          when(col("event_id") % 5 =!= 0, col("value")))
      graft.lagops.Ffill.over(ev, "v_sparse",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1), None))
        .select(col("user_id"), col("event_id"),
          round(coalesce(col("v_sparse"), lit(-1.0)), 6).as("v_sparse"),
          round(coalesce(col("v_sparse_ffill"), lit(-1.0)), 6).as("v_filled"))
    },
      s"""SELECT user_id, event_id,
          round(coalesce(v_sparse, -1.0), 6) AS v_sparse,
          round(coalesce(last_value(v_sparse IGNORE NULLS) OVER
            ($EvWP ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
            -1.0), 6) AS v_filled
          FROM (SELECT user_id, event_id, ts,
                CASE WHEN event_id % 5 <> 0 THEN value END AS v_sparse
                FROM events)"""),

    Row("funnel_steps", (s, dir) =>
      // ordered view→click→purchase funnel: one user-keyed exchange,
      // chained running-min windows over one sort (ts is unique per
      // event — TESTDATA.md — so the struct order key reduces to ts
      // and the oracle can chain scalar min-ts CTEs), then a
      // combinable per-user reduce to one row of step counts
      graft.lagops.EventAnalytics.funnel(Tables.events(s, dir),
        "user_id", "event_type", Seq("ts_ns", "event_id"),
        Seq("view", "click", "purchase")),
      // scalar min-ts CTE chain — equivalent to the engine's chained
      // running-min windows because ts is unique per event, so "after
      // an earlier qualifying step" == "after the MIN qualifying time"
      """WITH q1 AS (SELECT user_id, min(ts) AS t1 FROM events
           WHERE event_type = 'view' GROUP BY 1),
         q2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
           JOIN q1 USING (user_id)
           WHERE e.event_type = 'click' AND e.ts > q1.t1 GROUP BY 1),
         q3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
           JOIN q2 USING (user_id)
           WHERE e.event_type = 'purchase' AND e.ts > q2.t2 GROUP BY 1)
         SELECT 1 AS step_idx, 'view' AS step, count(*) AS n_users FROM q1
         UNION ALL SELECT 2, 'click', count(*) FROM q2
         UNION ALL SELECT 3, 'purchase', count(*) FROM q3"""),

    Row("retention_cohorts", (s, dir) =>
      // weekly cohort retention: two aggregates share the user-keyed
      // partitioning, the join is user-sized, the output matrix-sized
      graft.lagops.EventAnalytics.retention(Tables.events(s, dir),
          "user_id", "ts", "week")
        .withColumnRenamed("offset", "week_offset"),
      """WITH c AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
           FROM events GROUP BY 1),
         a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS period
           FROM events)
         SELECT c.cohort,
           CAST(floor(date_diff('day', c.cohort, a.period) / 7.0) AS INT)
             AS week_offset,
           count(*) AS n_users
         FROM a JOIN c USING (user_id) GROUP BY 1, 2"""),

    Row("lag_interp", (s, dir) => {
      // linear gap interpolation (same ~20% knockout as lag_ffill):
      // two window frames over one (user, order) exchange; -1 sentinel
      // keeps the nullable doubles hash-comparable
      val ev = Tables.events(s, dir)
        .withColumn("v_sparse",
          when(col("event_id") % 5 =!= 0, col("value")))
      graft.lagops.EventAnalytics.interpolate(ev, "v_sparse", "ts_ns",
          Seq("user_id"), Seq("ts_ns", "event_id"))
        .select(col("user_id"), col("event_id"),
          round(coalesce(col("v_sparse"), lit(-1.0)), 6).as("v_sparse"),
          round(coalesce(col("v_sparse_interp"), lit(-1.0)), 6)
            .as("v_interp"))
    },
      s"""WITH t AS (SELECT user_id, event_id, ts,
             CAST(epoch_ns(ts) AS DOUBLE) AS tt,
             CASE WHEN event_id % 5 <> 0 THEN value END AS v_sparse
           FROM events),
         w AS (SELECT user_id, event_id, v_sparse, tt,
           last_value(v_sparse IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS pv,
           last_value(CASE WHEN v_sparse IS NOT NULL THEN tt END
             IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS pt,
           first_value(v_sparse IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS nv,
           first_value(CASE WHEN v_sparse IS NOT NULL THEN tt END
             IGNORE NULLS) OVER
             ($EvWP ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             AS nt
           FROM t)
         SELECT user_id, event_id,
           round(coalesce(v_sparse, -1.0), 6) AS v_sparse,
           round(coalesce(CASE WHEN v_sparse IS NOT NULL THEN v_sparse
             WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv
             ELSE pv + (nv - pv) * (tt - pt) / (nt - pt) END, -1.0), 6)
             AS v_interp
         FROM w"""),

    Row("events_debounce", (s, dir) =>
      // at-least-once ingest dedup: collapse same-(user, type) bursts
      // with inter-arrival gap ≤ 24h to their first event. One
      // (user, type)-keyed exchange; the burst aggregate's grouping
      // keys extend the window partitioning, so it adds no second
      // shuffle (plan-fenced)
      graft.lagops.EventAnalytics.debounce(Tables.events(s, dir),
          Seq("user_id", "event_type"), "ts_ns", "event_id",
          Seq("ts_ns", "event_id"), gapNs = 86400L * 1000000000L)
        .select(col("user_id"), col("event_type"), col("first_event"),
          expr("burst_start div 1000").as("burst_start_us"),
          col("n_collapsed")),
      // same sessionize-trick window formulation; ts is unique per
      // event (TESTDATA.md) so arg_min by ts_ns == the engine's min_by
      // on the (ts_ns, event_id) order struct
      """WITH t AS (SELECT user_id, event_type, event_id,
             epoch_ns(ts) AS ts_ns FROM events),
         s AS (SELECT *, CASE WHEN lag(ts_ns) OVER w IS NULL
                OR ts_ns - lag(ts_ns) OVER w > 86400000000000 THEN 1 ELSE 0 END AS nb
               FROM t WINDOW w AS (PARTITION BY user_id, event_type
                 ORDER BY ts_ns, event_id)),
         g AS (SELECT *, sum(nb) OVER (PARTITION BY user_id, event_type
               ORDER BY ts_ns, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst FROM s)
         SELECT user_id, event_type, arg_min(event_id, ts_ns) AS first_event,
           min(ts_ns) // 1000 AS burst_start_us, count(*) AS n_collapsed
         FROM g GROUP BY user_id, event_type, burst"""),

    Row("series_acf", (s, dir) =>
      // per-user autocorrelation, lags 1..5: all lag columns in ONE
      // collapsed window pass, then one combinable corr aggregate on
      // the same user partitioning (grouping key == window key, so no
      // second exchange); output is users × 5 rows
      graft.lagops.SeriesStats.acf(Tables.events(s, dir), "value",
        LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
        maxLag = 5), {
      // same lag columns, same per-user Pearson corr; the n>=2 guard
      // mirrors the engine's NaN→NULL normalization (DuckDB yields
      // NULL below 2 pairs where Spark yields NaN)
      val ls = (1 to 5).map(k => s"lag(value, $k) OVER w AS l$k")
        .mkString(", ")
      val parts = (1 to 5).map(k =>
        s"""SELECT user_id, $k AS "lag", count(l$k) AS n_pairs,
            round(CASE WHEN count(l$k) >= 2
              THEN corr(value, l$k) END, 6) + 0.0 AS acf
            FROM l GROUP BY user_id""").mkString(" UNION ALL ")
      s"""WITH l AS (SELECT user_id, value, $ls FROM events
          WINDOW w AS ($EvWP)) $parts"""
    }),

    Row("series_xcorr", (s, dir) =>
      // hourly-bucket cross-correlation view→purchase at shifts −3..+3:
      // event rows feed ONE combinable conditional-average aggregate;
      // everything downstream is bucket-sized (a year of hours is ~10k
      // rows at ANY corpus size) through a broadcast self-join — no
      // global-order window anywhere
      graft.lagops.SeriesStats.crossCorr(Tables.events(s, dir),
        "event_type", "ts", "value", "view", "purchase",
        bucketSeconds = 3600L, maxShift = 3),
      // identical hourly bucketing (integer µs floor-division ==
      // the engine's unix-seconds floor), self-join at bucket+shift,
      // combinable corr per shift
      """WITH b AS (SELECT (epoch_us(ts) // 3600000000) * 3600 AS bucket,
             avg(CASE WHEN event_type = 'view' THEN value END) AS va,
             avg(CASE WHEN event_type = 'purchase' THEN value END) AS vb
           FROM events WHERE event_type IN ('view', 'purchase')
           GROUP BY 1),
         k AS (SELECT unnest(generate_series(-3, 3)) AS shift)
         SELECT k.shift, count(*) AS n_pairs,
           round(corr(a.va, bb.vb), 6) + 0.0 AS xcorr
         FROM k, b a, b bb
         WHERE a.va IS NOT NULL AND bb.vb IS NOT NULL
           AND a.bucket + k.shift * 3600 = bb.bucket
         GROUP BY k.shift"""),

    Row("trend_decompose", (s, dir) =>
      // centered ±3-row moving-average trend + residual per user: one
      // series-keyed exchange, one bounded symmetric frame (incremental
      // — the quadratic-frame fence plans this query too)
      graft.lagops.SeriesStats.decompose(Tables.events(s, dir), "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          halfWidth = 3)
        .select("user_id", "event_id", "value", "trend", "resid"),
      // resid from the ROUNDED trend (both engines subtract identical
      // doubles — ulp-boundary-safe at any row count)
      s"""SELECT user_id, event_id, value,
          round(avg(value) OVER w, 6) AS trend,
          round(value - round(avg(value) OVER w, 6), 6) + 0.0 AS resid
          FROM events
          WINDOW w AS ($EvWP ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)"""),

    Row("anomaly_zscore", (s, dir) =>
      // rolling-z outliers: each value vs mean/std of its own previous
      // 8 observations (frame ends at the PREVIOUS row, so a spike
      // never suppresses its own detection); undefined z → -999
      // sentinel so the nullable double survives the hash gate
      graft.lagops.SeriesStats.anomalies(Tables.events(s, dir), "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          window = 8, threshold = 2.5)
        .select(col("user_id"), col("event_id"), col("value"),
          col("base_n"), coalesce(col("z"), lit(-999.0)).as("z"),
          col("is_anomaly")),
      // rounded z feeds BOTH the sentinel and the flag, matching the
      // engine (is_anomaly compares the 6dp z, and the -999 sentinel
      // is applied after the flag so it can never trip it)
      s"""WITH w AS (SELECT user_id, event_id, value,
             count(value) OVER fr AS base_n,
             avg(value) OVER fr AS mu,
             stddev_samp(value) OVER fr AS sd
           FROM events
           WINDOW fr AS ($EvWP ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
         z AS (SELECT user_id, event_id, value, base_n,
             round(CASE WHEN base_n >= 2 AND sd > 0
               THEN (value - mu) / sd END, 6) + 0.0 AS zr
           FROM w)
         SELECT user_id, event_id, value, base_n,
           coalesce(zr, -999.0) AS z,
           coalesce(abs(zr) > 2.5, false) AS is_anomaly
         FROM z"""),

    Row("stl_seasonal", (s, dir) =>
      // classical seasonal decomposition (value = trend + hour-of-day
      // seasonal + remainder): trend window, seasonal aggregate and
      // join-back all share the user partitioning — one exchange
      graft.lagops.SeriesStats.seasonalDecompose(
          Tables.events(s, dir).withColumn("hod", hour(col("ts"))),
          "value", "hod",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          halfWidth = 12)
        .select("user_id", "event_id", "hod", "value", "trend",
          "seasonal", "remainder"), {
      // exact integer micro-unit replay of the engine pipeline:
      // fixed-point inputs make double means land ON decimal rounding
      // boundaries, where Spark's shortest-repr BigDecimal round and
      // DuckDB's binary round systematically disagree — so no double
      // aggregation appears anywhere; means are the shared
      // round-half-up integer-division formula
      val off = "1000000000"
      def halfUp(a: String, b: String) =
        s"(CAST(((2*(($a) + $off*($b)) + ($b)) - ((2*(($a) + $off*($b)) + ($b)) % (2*($b)))) / (2*($b)) AS BIGINT) - $off)"
      s"""WITH t AS (SELECT user_id, event_id, value, hour(ts) AS hod,
             CAST(round(value * 100) AS BIGINT) * 10000 AS vm,
             sum(CAST(round(value * 100) AS BIGINT) * 10000) OVER fr AS fs,
             count(*) OVER fr AS fn
           FROM events
           WINDOW fr AS ($EvWP
             ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)),
         t2 AS (SELECT user_id, event_id, value, hod, vm,
             ${halfUp("fs", "fn")} AS trm FROM t),
         s AS (SELECT user_id, hod,
             ${halfUp("sum(vm - trm)", "count(*)")} AS seam
             FROM t2 GROUP BY 1, 2)
         SELECT t2.user_id, t2.event_id, t2.hod, t2.value,
           t2.trm / 1000000.0 AS trend,
           s.seam / 1000000.0 AS seasonal,
           (t2.vm - t2.trm - s.seam) / 1000000.0 AS remainder
         FROM t2 JOIN s USING (user_id, hod)"""
    }),

    Row("rolling_corr", (s, dir) =>
      // time-local lag-1 autocorrelation over each row's trailing 24
      // observations: lag column and frame correlation share one
      // exchange + one sort; undefined → -999 sentinel
      graft.lagops.SeriesStats.rollingCorr(Tables.events(s, dir),
          "value",
          LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(1)),
          window = 24)
        .select(col("user_id"), col("event_id"), col("value"),
          col("n_pairs"),
          coalesce(col("roll_corr"), lit(-999.0)).as("roll_corr")),
      s"""WITH l AS (SELECT user_id, event_id, ts, value,
             lag(value, 1) OVER ($EvWP) AS y
           FROM events),
         w AS (SELECT user_id, event_id, value,
             count(y) OVER fr AS n_pairs,
             CASE WHEN count(y) OVER fr >= 2
               THEN corr(value, y) OVER fr END AS c
           FROM l
           WINDOW fr AS ($EvWP
             ROWS BETWEEN 23 PRECEDING AND CURRENT ROW))
         SELECT user_id, event_id, value, n_pairs,
           coalesce(round(c, 6) + 0.0, -999.0) AS roll_corr FROM w"""),

    Row("value_histogram", (s, dir) =>
      // per-type equi-width value histogram (width 10, 12 buckets,
      // edge buckets absorb outliers): ONE combinable hash aggregate,
      // output bounded at types × buckets
      graft.lagops.EventAnalytics.histogram(Tables.events(s, dir),
        "event_type", "value", width = 10.0, nBuckets = 12),
      """SELECT event_type,
         CAST(least(greatest(floor(value / 10.0), 0.0), 11.0) AS BIGINT)
           AS bucket,
         count(*) AS n,
         round(min(value), 6) AS lo_seen,
         round(max(value), 6) AS hi_seen
         FROM events GROUP BY 1, 2"""),

    Row("resample_ohlc", (s, dir) => {
      // per-user hourly OHLC downsample in ONE combinable agg (min_by/
      // max_by on the (ts_ns, event_id) struct order key — no window
      // pass, map-side partials); bucket emitted as epoch micros
      val ev = Tables.events(s, dir)
      graft.lagops.Resample.ohlc(ev, "value", "ts", Seq("user_id"),
          Seq("ts_ns", "event_id"), "hour")
        .select(col("user_id"), unix_micros(col("bucket")).as("bucket_us"),
          round(col("value_open"), 6).as("open"),
          round(col("value_high"), 6).as("high"),
          round(col("value_low"), 6).as("low"),
          round(col("value_close"), 6).as("close"),
          col("n"))
    },
      // window formulation of the same OHLC semantics (first/last value
      // in (ts, event_id) order per (user, hour) bucket); open/close are
      // constant within the bucket, so grouping by them reduces to the
      // (user, bucket) grain
      """WITH w AS (SELECT user_id, date_trunc('hour', ts) AS bucket, value,
           first_value(value) OVER pw AS open,
           last_value(value) OVER pwf AS close
         FROM events
         WINDOW pw AS (PARTITION BY user_id, date_trunc('hour', ts)
                       ORDER BY ts, event_id),
                pwf AS (PARTITION BY user_id, date_trunc('hour', ts)
                        ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND UNBOUNDED FOLLOWING))
         SELECT user_id, epoch_us(bucket) AS bucket_us,
           round(open, 6) AS open, round(max(value), 6) AS high,
           round(min(value), 6) AS low, round(close, 6) AS close,
           count(*) AS n
         FROM w GROUP BY user_id, bucket, open, close"""),

    Row("rolling_time_window", (s, dir) => {
      // time-RANGE frame (all events in the trailing hour), vs. the
      // row-count frame in rolling_agg. Range frames include all peers of
      // the boundary, so ts ties need no tiebreak to stay deterministic.
      // µs on BOTH engines: DuckDB only sees µs-truncated timestamps, so a
      // ns-precise boundary could straddle differently at exactly -1h
      val ev = Tables.events(s, dir)
        .withColumn("ts_us", expr("ts_ns div 1000"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0) // 1 hour in µs
      ev.select(col("user_id"), col("event_id"),
        round(sum(col("value")).over(w), 6).as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
    },
      """SELECT user_id, event_id,
         round(sum(value) OVER w, 6) AS hour_sum,
         count(*) OVER w AS hour_n
         FROM (SELECT user_id, event_id, value, epoch_us(ts) AS ts_us FROM events)
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
           RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""")
  )
}
