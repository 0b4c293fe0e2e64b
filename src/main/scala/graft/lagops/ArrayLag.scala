package graft.lagops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Per-row lag shift of an array-encoded series — the Spark mapping of the
  * reference's ndarray adapters (`src/ndarray_support.rs:81-138`): array in,
  * lag-shifted array out, same length, head cells filled.
  *
  * Semantics pinned to the reference core loop (`src/lib.rs:518-524`):
  * truncating shift, not rotation — output[i] = fill for i < k, else
  * input[i-k]; the last k input elements are dropped.
  *
  * Built from codegen'd built-ins (`slice`/`concat`/`array_repeat`) so the
  * whole expression stays inside whole-stage codegen; see
  * `graft.functions.ArrayShift` for the custom-Expression variant used when
  * the built-in chain shows up in profiles.
  */
object ArrayLag {

  /** Shift `arr` right by `k`, padding the head with `fill` (NULL when
    * `fill` is null). `k == 0` returns the array unchanged.
    */
  def shift(arr: Column, k: Int, fill: Column): Column = {
    require(k >= 0, s"lag must be non-negative, got $k")
    if (k == 0) arr
    else {
      val n = size(arr)
      // slice is 1-based; guard short arrays: slice(arr, 1, max(0, n-k))
      val kept = slice(arr, lit(1), greatest(n - k, lit(0)))
      val pad  = array_repeat(fill, least(lit(k), n))
      concat(pad, kept)
    }
  }

  /** Multi-lag matrix per row: one shifted-array column per lag, caller's
    * lag order preserved (`src/lib.rs:846-865`). No row registers it
    * (`lag_matrix_array` times the codegen'd single-shift kernel);
    * ArrayLagSpec "matrix: caller lag order preserved" pins the
    * reference's lag-order contract on the array form.
    */
  def matrix(arr: Column, name: String, lags: Seq[Int],
             fill: Column): Seq[Column] =
    lags.distinct.map { k =>
      shift(arr, k, fill).as(if (k == 0) name else s"${name}_lag_$k")
    }
}
