package graft.lagops

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Which axis of a flat in-memory matrix is time — the reference's
  * `MatrixLayout` (`src/lib.rs:541-562`). Purely an ingest concern: both
  * layouts normalize to the same long-format DataFrame (SURVEY.md §1.1),
  * after which the logical plan is layout-free.
  */
sealed trait MatrixLayout { def seriesLength: Int }
final case class RowMajor(seriesLength: Int) extends MatrixLayout
final case class ColumnMajor(seriesLength: Int) extends MatrixLayout

/** API edges mirroring the reference's slice/ndarray adapters
  * (`src/lib.rs:487-488`, `src/ndarray_support.rs:81-138`): in-memory
  * series in, long-format DataFrame out, with the positional order key
  * made explicit (`t`) — the compatibility mode for index-is-time
  * semantics (`src/lib.rs:262-264`).
  */
object SeriesInput {

  /** 1-D series → `(t: long, value: double)`. No registered row calls
    * it (rows read parquet); it stays as the port of the reference's
    * 1-D input surface, pinned in SeriesInputSpec.
    */
  def fromSeq(spark: SparkSession, data: Seq[Double]): DataFrame = {
    import spark.implicits._
    data.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("t", "value")
  }

  /** Flat 2-D matrix + layout → `(series_id: int, t: long, value: double)`.
    * Mirrors `lag_matrix_2d`'s validation: data length must be a whole
    * multiple of the series length (`LagError::InvalidLength`,
    * `src/lib.rs:683-686`).
    */
  def from2D(spark: SparkSession, data: Seq[Double],
             layout: MatrixLayout): DataFrame = {
    val d = layout.seriesLength
    if (d <= 0 || data.isEmpty)
      throw LagException("EmptyData", "empty matrix or series length")
    if (data.size % d != 0)
      throw LagException("InvalidLength",
        s"data length ${data.size} not a multiple of series length $d")
    val numSeries = data.size / d
    import spark.implicits._
    val rows = layout match {
      case RowMajor(_) => // series are contiguous runs
        for (s <- 0 until numSeries; t <- 0 until d)
          yield (s, t.toLong, data(s * d + t))
      case ColumnMajor(_) => // time steps are contiguous runs
        for (s <- 0 until numSeries; t <- 0 until d)
          yield (s, t.toLong, data(t * numSeries + s))
    }
    rows.toDF("series_id", "t", "value")
  }
}
