package graft.lagops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical diagnostics over the lag machinery's output — the
  * questions a modeler asks of a lag matrix once it exists: how
  * self-correlated is each series (ACF), how do two series co-move at
  * an offset (cross-correlation), what part of a series is trend vs
  * residual (decomposition), and which points sit far outside their
  * own recent history (rolling-z anomalies). The reference crate
  * (`src/lib.rs:3-4`) builds lag matrices precisely to feed this kind
  * of analysis; these operators close the loop inside the engine.
  *
  * Scale shape shared by all four: event rows cross the wire at most
  * ONCE — either through the series-keyed window exchange the lag
  * family already pays, or through a combinable time-bucket aggregate
  * — and every output is series-, lag-, or bucket-sized.
  */
object SeriesStats {

  /** Pearson correlation from combinable raw moments, with every
    * division guarded: NULL when fewer than 2 pairs or either side has
    * zero spread. Spark 4 runs ANSI mode by default, where the
    * built-in `corr`'s internal `ck / sqrt(xMk·yMk)` THROWS
    * DIVIDE_BY_ZERO on a zero-variance frame (a constant run inside a
    * rolling window was enough to kill a 1M-row query at the 10×
    * anchor) — so every correlation in this file is built from sums
    * with the division behind a lazily-evaluated CaseWhen.
    */
  private def pearson(n: Column, sx: Column, sy: Column, sxx: Column,
                      syy: Column, sxy: Column): Column = {
    val covN = n * sxy - sx * sy // n² · cov
    val vxN = n * sxx - sx * sx // n² · var_x
    val vyN = n * syy - sy * sy
    when(n >= 2 && vxN > 0 && vyN > 0, covN / sqrt(vxN * vyN))
  }

  /** The six conditional moment aggregates [[pearson]] needs, over
    * pairs where both sides are non-null. */
  private def momentAggs(x: Column, y: Column, tag: String): Seq[Column] = {
    val xc = when(x.isNotNull && y.isNotNull, x)
    val yc = when(x.isNotNull && y.isNotNull, y)
    Seq(count(xc).cast("double").as(s"_n$tag"),
      sum(xc).as(s"_sx$tag"), sum(yc).as(s"_sy$tag"),
      sum(xc * xc).as(s"_sxx$tag"), sum(yc * yc).as(s"_syy$tag"),
      sum(xc * yc).as(s"_sxy$tag"))
  }

  private def pearsonOf(tag: String): Column =
    pearson(col(s"_n$tag"), col(s"_sx$tag"), col(s"_sy$tag"),
      col(s"_sxx$tag"), col(s"_syy$tag"), col(s"_sxy$tag"))

  /** Per-series autocorrelation function for lags `1..maxLag`:
    * `acf(s, k) = corr(value_t, value_{t-k})` over the rows of series
    * `s` where both sides exist (head rows, where the lag is null, drop
    * out of the pair set — the same truncating-shift semantics as the
    * reference's lag matrix, `src/lib.rs:262-264`).
    *
    * Plan: ONE series-keyed window pass computes all `maxLag` lag
    * columns (Catalyst's `CollapseWindow` stacks them over a single
    * Exchange + Sort), then ONE hash aggregate per series computes all
    * `maxLag` Pearson correlations as combinable `corr` partials —
    * the grouping key equals the window partitioning, so the aggregate
    * adds no second exchange. Output is series × maxLag rows.
    *
    * Correlations are guarded-moment [[pearson]] forms (NULL when
    * undefined — never NaN, never an ANSI divide-by-zero).
    *
    * Output: (seriesCols..., lag, n_pairs, acf) with `acf` rounded to
    * 6dp (ratio-of-sums parity convention).
    */
  def acf(df: DataFrame, valueCol: String, spec: LagSpec,
          maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    require(spec.seriesCols.nonEmpty,
      "acf requires at least one series column (per-series correlation)")
    val lags = 1 to maxLag
    // lag 0 keeps the unshifted value column in the wide projection
    val wide = LagMatrix.wide(df, valueCol,
      spec.copy(lags = 0 +: lags, fill = None))
    val aggs = lags.flatMap { k =>
      momentAggs(col(valueCol), col(s"${valueCol}_lag_$k"), k.toString)
    }
    val perSeries = wide.groupBy(spec.seriesCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val rows = lags.map { k =>
      struct(lit(k).as("lag"),
        col(s"_n$k").cast("long").as("n_pairs"),
        round(pearsonOf(k.toString), 6).as("acf"))
    }
    perSeries
      .select(spec.seriesCols.map(col) :+
        explode(array(rows: _*)).as("_r"): _*)
      .select(spec.seriesCols.map(col) :+ col("_r.lag") :+
        col("_r.n_pairs") :+ col("_r.acf"): _*)
  }

  /** Cross-correlation between two event streams at bucketed time
    * offsets: resample each stream to `bucketSeconds` means, then for
    * every shift `k ∈ [-maxShift, maxShift]` correlate stream A at
    * bucket `t` with stream B at bucket `t + k` (positive `k`: B lags
    * A — A leads). The lead/lag structure between streams is what the
    * reference's 2-D lag matrix exists to expose; this computes the
    * summary statistic directly.
    *
    * Plan: event rows feed ONE combinable conditional-average
    * aggregate (bucket-sized output — at 100 TB a year of hourly
    * buckets is ~10k rows, so everything after the first aggregate is
    * index-sized); shifts come from a broadcast self-join of the
    * bucket frame against itself on `bucket + k·step` (no
    * single-partition global-order window anywhere), and each shift's
    * correlation is a combinable `corr` over bucket rows. Output is
    * `2·maxShift + 1` rows.
    *
    * Output: (shift, n_pairs, xcorr) — `xcorr` 6dp-rounded, NULL when
    * undefined (< 2 pairs or zero variance).
    */
  def crossCorr(df: DataFrame, typeCol: String, tsCol: String,
                valueCol: String, typeA: String, typeB: String,
                bucketSeconds: Long, maxShift: Int): DataFrame = {
    require(maxShift >= 0, s"maxShift must be >= 0, got $maxShift")
    require(bucketSeconds > 0, s"bucketSeconds must be > 0, got $bucketSeconds")
    val b = df
      .filter(col(typeCol).isin(typeA, typeB))
      .groupBy((floor(unix_timestamp(col(tsCol)) / bucketSeconds)
        * bucketSeconds).as("_bucket"))
      .agg(
        avg(when(col(typeCol) === typeA, col(valueCol))).as("_va"),
        avg(when(col(typeCol) === typeB, col(valueCol))).as("_vb"))
    val shifts = (-maxShift to maxShift).map(k => lit(k))
    val left = b.select(col("_bucket"), col("_va"))
      .where(col("_va").isNotNull)
      .select(col("_bucket"), col("_va"),
        explode(array(shifts: _*)).as("shift"))
    val right = b.select(col("_bucket").as("_bucket_b"), col("_vb"))
      .where(col("_vb").isNotNull)
    val m = momentAggs(col("_va"), col("_vb"), "")
    left
      .join(broadcast(right),
        left("_bucket") + col("shift") * bucketSeconds === col("_bucket_b"))
      .groupBy(col("shift"))
      .agg(m.head, m.tail: _*)
      .select(col("shift"), col("_n").cast("long").as("n_pairs"),
        round(pearsonOf(""), 6).as("xcorr"))
  }

  /** Additive trend decomposition by centered moving average:
    * `trend_t = mean(value_{t-w} .. value_{t+w})` per series (partial
    * head/tail windows use the rows that exist, the standard
    * edge-shrinking convention), `resid_t = value_t − trend_t`.
    *
    * Plan: one series-keyed window exchange, one incremental
    * `rowsBetween(-w, w)` frame — never an unbounded-following frame
    * (the quadratic-frame fence applies; a symmetric bounded frame is
    * incremental in Spark's WindowExec).
    *
    * Output: input key cols + (value, trend, resid), 6dp.
    */
  def decompose(df: DataFrame, valueCol: String, spec: LagSpec,
                halfWidth: Int): DataFrame = {
    require(halfWidth >= 1, s"halfWidth must be >= 1, got $halfWidth")
    val w = Window
      .partitionBy(spec.seriesCols.map(col): _*)
      .orderBy(spec.orderCols.map(col): _*)
      .rowsBetween(-halfWidth, halfWidth)
    // resid subtracts the ROUNDED trend: the rounded value is the one
    // deterministic across engines/summation orders, so derived
    // differences stay ulp-boundary-safe at any row count (a raw
    // window-avg differs ~1e-13 between engines, enough to flip a 6dp
    // rounding on ~1 row in 10^6)
    df.withColumn("trend", round(avg(col(valueCol)).over(w), 6))
      .withColumn("resid", round(col(valueCol) - col("trend"), 6))
  }

  /** Round-half-up integer division `a / b` (ties toward +∞) for an
    * integer column `a` of either sign and a positive integer `b`,
    * computed in EXACT long arithmetic: offset to nonnegative (so
    * floor- and truncate-division agree — engines disagree on negative
    * integer division), then `floor((2a' + b) / 2b)` via subtract-mod,
    * whose final division is an exact-multiple long division.
    *
    * Exactness contract: |a/b| < 10^9 (the offset) and 2·(a + 10^9·b)
    * must stay under 2^53 so the exact-multiple division is exact in
    * doubles — b up to ~4·10^6 rows per group at micro-unit scale.
    */
  private[graft] def divHalfUp(a: Column, b: Column): Column = {
    val off = lit(1000000000L)
    val bigA = (a + off * b) * 2 + b
    val bigB = b * 2
    ((bigA - pmod(bigA, bigB)) / bigB).cast("long") - off
  }

  /** Classical seasonal decomposition (the moving-average STL
    * ancestor) for FIXED-POINT series (`fracDigits` decimal places —
    * the telemetry/money case): `value = trend + seasonal + remainder`,
    * where trend is the centered ±`halfWidth` moving average
    * ([[decompose]]'s frame) and the seasonal term is the mean
    * DETRENDED value of the row's season bucket (`seasonCol` — e.g.
    * hour-of-day, day-of-week) within its series.
    *
    * All three outputs are derived in EXACT integer micro-units
    * (sums of scaled longs; means via [[divHalfUp]]), so every engine
    * replaying the arithmetic produces bit-identical doubles. The
    * naive double pipeline is subtly non-portable here: fixed-point
    * inputs make the means land EXACTLY on decimal rounding
    * boundaries, where Spark (shortest-repr BigDecimal, half-up) and
    * C-family `round` (binary value) systematically disagree — this
    * flipped 6dp roundings on ~1e-3 of seasonal groups in practice.
    * Generic doubles (cosines, ratios) don't hit this; exact decimals
    * do.
    *
    * Plan: the seasonal mean is a WHOLE-PARTITION window over
    * (series, season) stacked directly on the trend window — the
    * series hash partitioning already satisfies the second window's
    * clustered distribution (season extends the keys), so the whole
    * decomposition is ONE scan, ONE series-keyed exchange, two
    * in-partition sorts. The groupBy+join-back form this replaced
    * read right but planned wrong at scale: the aggregate subtree
    * recomputed the entire scan→shuffle→window pipeline (its project
    * differed by one column, so ReuseExchange never fired) and the
    * join re-exchanged every WIDE corpus row on (series, season) into
    * a sort-merge join — 3 corpus exchanges, 2 scans, and a 7×/decade
    * anchor slope; the window form measures ~2×/decade (by a probe
    * removed after acd062c).
    * An unbounded frame here is the O(partition) single-pass kind,
    * not the quadratic mid-partition-to-unboundedFollowing fence
    * class. NULL season/series values form their own window groups
    * (rows surface; the old inner join silently dropped them).
    *
    * Output: input cols + (trend, seasonal, remainder) as micro-unit-
    * exact doubles.
    */
  def seasonalDecompose(df: DataFrame, valueCol: String,
                        seasonCol: String, spec: LagSpec,
                        halfWidth: Int, fracDigits: Int = 2): DataFrame = {
    require(halfWidth >= 1, s"halfWidth must be >= 1, got $halfWidth")
    require(fracDigits >= 0 && fracDigits <= 6,
      s"fracDigits must be in [0, 6], got $fracDigits")
    val toMicros = math.round(math.pow(10, 6 - fracDigits))
    val w = Window
      .partitionBy(spec.seriesCols.map(col): _*)
      .orderBy(spec.orderCols.map(col): _*)
      .rowsBetween(-halfWidth, halfWidth)
    val wSeas = Window
      .partitionBy((spec.seriesCols :+ seasonCol).map(col): _*)
    val vU = round(col(valueCol) * math.round(math.pow(10, fracDigits)))
      .cast("long")
    df
      .withColumn("_vm", vU * toMicros)
      .withColumn("_trm",
        divHalfUp(sum(col("_vm")).over(w), count(lit(1)).over(w)))
      .withColumn("_detm", col("_vm") - col("_trm"))
      .withColumn("_seam",
        divHalfUp(sum(col("_detm")).over(wSeas),
          count(lit(1)).over(wSeas)))
      .withColumn("trend", col("_trm") / 1e6)
      .withColumn("seasonal", col("_seam") / 1e6)
      .withColumn("remainder",
        (col("_vm") - col("_trm") - col("_seam")) / 1e6)
      .drop("_vm", "_trm", "_detm", "_seam")
  }

  /** Rolling correlation between a value and its own 1-step lag — the
    * time-local autocorrelation diagnostic ([[acf]]'s per-point twin):
    * `corr(value_t, value_{t-1})` over each row's trailing `window`
    * observations. A regime change shows up as this series crossing
    * zero long before the global ACF moves.
    *
    * Plan: the lag column and the frame correlation share one
    * series-keyed exchange and one sort; the frame is bounded trailing
    * (incremental — the quadratic fence's unbounded-following pattern
    * never appears). NaN (zero-variance frame) normalizes to NULL.
    *
    * Output: input cols + (n_pairs, roll_corr).
    */
  def rollingCorr(df: DataFrame, valueCol: String, spec: LagSpec,
                  window: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val base = Window
      .partitionBy(spec.seriesCols.map(col): _*)
      .orderBy(spec.orderCols.map(col): _*)
    val fr = base.rowsBetween(-(window - 1), 0)
    val x = col(valueCol)
    val y = col("_y")
    val xc = when(y.isNotNull, x)
    df.withColumn("_y", lag(col(valueCol), 1).over(base))
      .withColumn("_n", count(y).over(fr).cast("double"))
      .withColumn("_sx", sum(xc).over(fr))
      .withColumn("_sy", sum(y).over(fr))
      .withColumn("_sxx", sum(xc * xc).over(fr))
      .withColumn("_syy", sum(y * y).over(fr))
      .withColumn("_sxy", sum(xc * y).over(fr))
      .withColumn("n_pairs", col("_n").cast("long"))
      .withColumn("roll_corr", round(pearson(col("_n"), col("_sx"),
        col("_sy"), col("_sxx"), col("_syy"), col("_sxy")), 6))
      .drop("_y", "_n", "_sx", "_sy", "_sxx", "_syy", "_sxy")
  }

  /** Rolling-z anomaly score: each point against the mean/stddev of its
    * own previous `window` observations in the series (the baseline
    * frame ends at the PREVIOUS row, so a spike never suppresses its
    * own detection). `z` is NULL (sentinel left to the caller) when the
    * baseline has < 2 points or zero spread — the same undefined-is-
    * NULL convention as [[acf]].
    *
    * Plan: one series-keyed window exchange; mean, stddev and count
    * share one bounded trailing frame (incremental, never quadratic).
    *
    * Output: input cols + (base_n, z, is_anomaly).
    */
  def anomalies(df: DataFrame, valueCol: String, spec: LagSpec,
                window: Int, threshold: Double): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(threshold > 0, s"threshold must be > 0, got $threshold")
    val w = Window
      .partitionBy(spec.seriesCols.map(col): _*)
      .orderBy(spec.orderCols.map(col): _*)
      .rowsBetween(-window, -1)
    val n = count(col(valueCol)).over(w)
    val mu = avg(col(valueCol)).over(w)
    val sd = stddev_samp(col(valueCol)).over(w)
    // the division lives INSIDE the CaseWhen branch: ANSI mode throws
    // DIVIDE_BY_ZERO on an eagerly-computed z when a baseline frame is
    // a constant run (sd exactly 0) — lazily guarded, it never runs
    val z = when(col("base_n") >= 2 && col("_sd").isNotNull &&
      !isnan(col("_sd")) && col("_sd") > 0,
      (col(valueCol) - col("_mu")) / col("_sd"))
    df.withColumn("base_n", n)
      .withColumn("_mu", mu)
      .withColumn("_sd", sd)
      .withColumn("z", round(z, 6))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > threshold,
        lit(false)))
      .drop("_mu", "_sd")
  }
}
