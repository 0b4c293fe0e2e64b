package graft.lagops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType

/** Specification of a lag-matrix computation over a long-format time-series
  * DataFrame.
  *
  * Mirrors the reference surface of `time-sift` (`src/lib.rs:487-538` 1-D,
  * `src/lib.rs:660-756` 2-D): a set of non-negative lags applied to an
  * ordered series, head cells padded with a caller-supplied fill value — or
  * SQL NULL, the Spark idiom, when `fill` is None.
  *
  * Differences from the reference, by design (SURVEY.md §2.2):
  *   - time is an explicit order column, not slice position;
  *   - multi-series layout (row/column-major) is an I/O concern that
  *     vanishes in long format: `seriesCols` non-empty ≡ the 2-D variant;
  *   - physical `stride`/padding has no logical meaning in a DataFrame and
  *     is not modelled;
  *   - `max(lags) >= series length` is rejected up front with a typed error
  *     (the reference panics on usize underflow, `src/lib.rs:520`).
  *
  * @param orderCols  columns producing a total order within a series; callers
  *                   should include a unique tiebreak key (e.g. `event_id`)
  * @param seriesCols partition keys; empty ⇒ one global series (reference 1-D)
  * @param lags       non-negative; arbitrary order and duplicates allowed and
  *                   preserved in output column order (`src/lib.rs:846-865`)
  * @param fill       value for head cells; None ⇒ SQL NULL
  */
final case class LagSpec(
    orderCols: Seq[String],
    seriesCols: Seq[String] = Nil,
    lags: Seq[Int],
    fill: Option[Double] = None)

/** Typed error surface mirroring the reference's `LagError`
  * (`src/lib.rs:758-804`), raised driver-side before any job runs —
  * the Spark analogue of the reference's fail-before-allocate checks.
  */
final case class LagException(kind: String, message: String)
    extends IllegalArgumentException(s"$kind: $message")

object LagMatrix {

  /** Pre-flight validation mirroring `LagError` checks
    * (`src/lib.rs:496-515`, `:670-696`) plus the lag-magnitude check the
    * reference omits (it panics instead, `src/lib.rs:520`).
    * Cheap (metadata-only) checks happen always; the data-dependent
    * series-length check is opt-in because it runs a job.
    */
  def validate(df: DataFrame, valueCol: String, spec: LagSpec,
               checkSeriesLength: Boolean = false): Unit = {
    if (spec.lags.isEmpty)
      throw LagException("InvalidLags", "the lag set is empty")
    if (spec.lags.exists(_ < 0))
      throw LagException("InvalidLags",
        s"negative lag in ${spec.lags}; use Lead.wide for negative shifts")
    if (spec.orderCols.isEmpty)
      throw LagException("InvalidOrder", "at least one order column required")
    val schema = df.schema
    (spec.orderCols ++ spec.seriesCols :+ valueCol).foreach { c =>
      if (!schema.fieldNames.contains(c))
        throw LagException("UnknownColumn",
          s"column '$c' not in schema ${schema.fieldNames.mkString(",")}")
    }
    if (spec.fill.isDefined &&
        !schema(valueCol).dataType.isInstanceOf[NumericType])
      throw LagException("InvalidFill",
        s"numeric fill for non-numeric column '$valueCol'")
    if (checkSeriesLength) {
      val maxLag = spec.lags.max.toLong
      // ONE aggregation job covers both the emptiness and the shortest-
      // series checks (min over per-series counts is NULL iff no rows).
      val minLen: Long =
        if (spec.seriesCols.isEmpty) df.count()
        else {
          val row = df.groupBy(spec.seriesCols.map(col): _*).count()
            .agg(min("count")).head
          if (row.isNullAt(0)) 0L else row.getLong(0)
        }
      if (minLen == 0L)
        throw LagException("EmptyData", "the input DataFrame is empty")
      if (maxLag >= minLen)
        throw LagException("LagExceedsValueCount",
          s"max lag $maxLag >= shortest series length $minLen")
    }
  }

  /** The one series window every lag-family operator runs over: the
    * series key (if any) and the caller's order columns.
    */
  private[lagops] def windowSpec(spec: LagSpec): WindowSpec =
    if (spec.seriesCols.isEmpty) Window.orderBy(spec.orderCols.map(col): _*)
    else Window.partitionBy(spec.seriesCols.map(col): _*)
      .orderBy(spec.orderCols.map(col): _*)

  /** One lag expression. With a fill, reproduce the reference's sentinel
    * semantics (`src/lib.rs:18-19`); without, Spark-native NULL heads.
    * All expressions share ONE WindowSpec so Catalyst's `CollapseWindow`
    * folds them into a single WindowExec pass — the planner analogue of the
    * reference's single-allocation multi-row copy loop (`src/lib.rs:517-524`).
    */
  private def lagCol(valueCol: String, k: Int, spec: LagSpec,
                     w: WindowSpec): Column = {
    val base =
      if (k == 0) col(valueCol)                 // lag 0 = original series
      else spec.fill match {
        case Some(f) => lag(col(valueCol), k, f).over(w)
        case None    => lag(col(valueCol), k).over(w)
      }
    // lag index travels as column metadata — the schema-level analogue of
    // the reference's LagMatrix accessors (src/lib.rs:148-218)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("lag", k.toLong)
      .putBoolean("fill_sentinel", spec.fill.isDefined)
      .build()
    base.as(lagName(valueCol, k), md)
  }

  def lagName(valueCol: String, k: Int): String =
    if (k == 0) valueCol else s"${valueCol}_lag_$k"

  /** Wide-format lag matrix: input columns plus one `value_lag_k` column per
    * requested lag, in the caller's lag order (duplicates deduped by name —
    * a DataFrame cannot carry two identical column names; the reference
    * allows duplicate rows, `src/lib.rs:846-865`).
    */
  def wide(df: DataFrame, valueCol: String, spec: LagSpec): DataFrame = {
    validate(df, valueCol, spec)
    val w = windowSpec(spec)
    val keep = (spec.seriesCols ++ spec.orderCols).distinct.map(col)
    val lagCols = spec.lags.distinct.map(k => lagCol(valueCol, k, spec, w))
    df.select(keep ++ lagCols: _*)
  }

  /** Long-format output `(series…, order…, lag, value)` — one row per
    * (input row × REQUESTED lag), in caller order INCLUDING duplicates:
    * the reference preserves duplicate lags as duplicate output rows
    * (`src/lib.rs:846-865`), and long format can carry them even though
    * wide format cannot (duplicate column names; documented dedupe in
    * [[wide]]). Built by stacking the wide form, which keeps the single
    * WindowExec pass and lets the reference's row/column-major output
    * orderings both be expressed as an ORDER BY (SURVEY.md §1.1).
    *
    * @param posCol optional name for a caller-position column (0-based
    *               index into `spec.lags`) — the explicit stand-in for
    *               the reference's positional column order, and the
    *               disambiguator when duplicates are requested
    */
  def long(df: DataFrame, valueCol: String, spec: LagSpec,
           posCol: Option[String] = None): DataFrame = {
    val wideDf = wide(df, valueCol, spec)
    val entries = spec.lags.map { k =>
      struct(lit(k).as("lag"), col(lagName(valueCol, k)).as("v"))
    }
    val keep = (spec.seriesCols ++ spec.orderCols).distinct.map(col)
    val exploded = wideDf.select(keep :+
      posexplode(array(entries: _*)).as(Seq("_pos", "_e")): _*)
    exploded.select(keep ++
      posCol.map(p => col("_pos").as(p)).toSeq ++
      Seq(col("_e.lag").as("lag"), col("_e.v").as(valueCol)): _*)
  }
}

/** Mirror of the reference's negative-lag gap: MATLAB `lagmatrix` accepts
  * negative lags, `time-sift` restricts to usize; we expose `lead`
  * separately, following Spark convention (SURVEY.md §7.3).
  */
object Lead {
  def wide(df: DataFrame, valueCol: String, spec: LagSpec): DataFrame = {
    LagMatrix.validate(df, valueCol, spec)
    val w = LagMatrix.windowSpec(spec)
    val keep = (spec.seriesCols ++ spec.orderCols).distinct.map(col)
    val leadCols = spec.lags.distinct.map { k =>
      val c =
        if (k == 0) col(valueCol)
        else spec.fill match {
          case Some(f) => lead(col(valueCol), k, f).over(w)
          case None    => lead(col(valueCol), k).over(w)
        }
      c.as(if (k == 0) valueCol else s"${valueCol}_lead_$k")
    }
    df.select(keep ++ leadCols: _*)
  }
}

/** Truncated exponentially-weighted moving average — the classic
  * lag-matrix APPLICATION: each output is a weighted combination of
  * the series' lag columns,
  * `ewma_t = Σ_{j<W} wⱼ·x_{t−j} / Σ_{j<W, x_{t−j} exists} wⱼ` with
  * `wⱼ = (1−α)ʲ` (the pandas `adjust=true` normalization, so series
  * heads weight only what exists). TRUNCATED at `window` terms by
  * contract: the dropped tail mass is (1−α)^W — pick W so that is
  * negligible for the α in play — and the DuckDB oracle replays the
  * identical truncated sum, weights embedded as the same shortest-
  * round-trip double literals.
  *
  * Plan shape: all `window` lag terms share ONE WindowSpec, so
  * Catalyst's CollapseWindow evaluates the whole weighted matrix in a
  * single Window pass over one (series-key) exchange — the planner
  * analogue of reading W lag-matrix columns at once (pinned for both
  * `ewma` and the plain lag family by PlanAuditSpec "lag_2d_partitioned
  * collapses all lags into one Window pass").
  */
object Ewma {
  /** @param maxTailMass loudest-possible guard on the truncation
    *   contract: the dropped tail mass (1−α)^W must not exceed this
    *   (default 5%). A caller passing W=4, α=0.05 would silently
    *   average ~81% of the exponential mass — reject it at plan time
    *   instead; callers that WANT an aggressively truncated kernel
    *   (fixtures, short-memory smoothers) raise the ceiling
    *   explicitly.
    */
  def over(df: DataFrame, valueCol: String, spec: LagSpec, alpha: Double,
           window: Int, maxTailMass: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha in (0,1), got $alpha")
    require(window > 0, "window must be positive")
    val tailMass = math.pow(1.0 - alpha, window)
    require(tailMass <= maxTailMass,
      f"ewma truncated at window=$window drops (1-alpha)^W = $tailMass%.4f " +
        f"of the exponential mass (> $maxTailMass%.2f): raise window, " +
        "raise alpha, or pass a larger maxTailMass explicitly")
    val base = LagMatrix.windowSpec(spec)
    val weights = (0 until window).map(j => math.pow(1.0 - alpha, j))
    def lagAt(j: Int): Column =
      if (j == 0) col(valueCol) else lag(col(valueCol), j).over(base)
    val numer = (0 until window).map(j =>
        when(lagAt(j).isNotNull, lit(weights(j)) * lagAt(j))
          .otherwise(lit(0.0)))
      .reduceLeft(_ + _)
    val denom = (0 until window).map(j =>
        when(lagAt(j).isNotNull, lit(weights(j))).otherwise(lit(0.0)))
      .reduceLeft(_ + _)
    val keep = (spec.seriesCols ++ spec.orderCols).distinct.map(col)
    df.select(keep ++ Seq(col(valueCol),
      round(numer / denom, 6).as(s"${valueCol}_ewma")): _*)
  }
}

/** Forward-fill (last observation carried forward) — the gap-filling
  * fill STRATEGY the reference's fill-sentinel padding gestures at
  * (ref `src/lib.rs:541-658` pads head cells with a constant; a real
  * time-series pipeline also needs interior gaps filled from the
  * series' own past). `last(col, ignoreNulls).over(unboundedPreceding
  * ..current)` is the running latest-non-null — the same carried-
  * observation kernel AsOfJoin uses (`plans/AsOfJoin.scala`), here
  * within a single series. Leading gaps (no prior observation) stay
  * NULL by contract; callers pick their sentinel.
  *
  * Scale: one exchange on the series key + per-key sort — identical
  * shuffle shape to any lag; the running window is a single forward
  * pass with O(1) state per row.
  */
object Ffill {
  def over(df: DataFrame, valueCol: String, spec: LagSpec): DataFrame = {
    val base = LagMatrix.windowSpec(spec)
    df.withColumn(s"${valueCol}_ffill",
      last(col(valueCol), ignoreNulls = true)
        .over(base.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
}

/** Rolling aggregates over the same Window machinery — the natural
  * window-adjacent extension of lagging (SURVEY.md §2.4 `rolling_agg`).
  */
object Rolling {
  def over(df: DataFrame, valueCol: String, spec: LagSpec,
           window: Int): DataFrame = {
    require(window > 0, "window must be positive")
    val base = LagMatrix.windowSpec(spec)
    val w = base.rowsBetween(-(window - 1), 0)
    val keep = (spec.seriesCols ++ spec.orderCols).distinct.map(col)
    df.select(keep ++ Seq(
      col(valueCol),
      avg(col(valueCol)).over(w).as(s"${valueCol}_roll_avg_$window"),
      sum(col(valueCol)).over(w).as(s"${valueCol}_roll_sum_$window"),
      min(col(valueCol)).over(w).as(s"${valueCol}_roll_min_$window"),
      max(col(valueCol)).over(w).as(s"${valueCol}_roll_max_$window"),
      count(col(valueCol)).over(w).as(s"${valueCol}_roll_n_$window")): _*)
  }
}

/** Method-call sugar mirroring the reference's `CreateLagMatrix` trait
  * (`src/lib.rs:258-440`): `df.lagMatrix(...)` etc. No registered row
  * calls it; it stays as the port of the paper's own extension trait
  * (README's Usage block imports it), and SyntaxSpec pins that each
  * method returns the object API's rows.
  */
object implicits {
  implicit final class LagOps(private val df: DataFrame) extends AnyVal {
    def lagMatrix(valueCol: String, spec: LagSpec): DataFrame =
      LagMatrix.wide(df, valueCol, spec)
    def lagMatrixLong(valueCol: String, spec: LagSpec): DataFrame =
      LagMatrix.long(df, valueCol, spec)
    def leadMatrix(valueCol: String, spec: LagSpec): DataFrame =
      Lead.wide(df, valueCol, spec)
    def rolling(valueCol: String, spec: LagSpec, window: Int): DataFrame =
      Rolling.over(df, valueCol, spec, window)
  }
}
