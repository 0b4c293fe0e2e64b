package graft

import graft.lagops.{LagMatrix, LagSpec}
import graft.registry._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The query contract (`entry`, `queries`, `oracleSql`) — see
  * SURVEY.md §7.
  *
  * Every operator from SURVEY.md §2.4 (reference semantics + north-star
  * training-data-pipeline extensions) is one [[graft.registry.Row]]:
  * its DataFrame function and its DuckDB oracle (IDENTICAL column
  * names) side by side in the family file under `graft.registry`.
  * Determinism rules (SURVEY.md §7.3): unique tiebreak keys in every
  * ordering; timestamps emitted as epoch micro/nanosecond longs; double
  * aggregates either exact (decimal accumulation) or rounded well
  * inside the float error margin.
  */
object SparkEntry {

  /** Flagship query on the sf0.001 test tables, the entry point of the
    * contract with [[queries]] and [[oracleSql]] (RegistrySpec checks it
    * returns rows).
    * Lag features per user joined against each user's mean: "which events
    * exceeded the user's average after rising for two steps" — the
    * value-vs-recent-history question the reference's lag matrices feed.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val ev = Tables.events(spark, dir)
    val lagged = LagMatrix.wide(ev, "value",
      LagSpec(Seq("ts_ns", "event_id"), Seq("user_id"), Seq(0, 1, 2), None))
    val userAvg = ev.groupBy("user_id").agg(avg("value").as("user_avg"))
    lagged.join(broadcast(userAvg), "user_id")
      .filter(col("value") > col("user_avg"))
      .select("user_id", "event_id", "value", "value_lag_1", "value_lag_2",
        "user_avg")
  }

  /** Every registered row, one definition each, by family. */
  private lazy val rows: Seq[Row] =
    LagRows.rows ++ RelationalRows.rows ++ StreamingRows.rows ++
      TextRows.rows ++ DedupRows.rows ++ SimopsRows.rows ++
      PipelineRows.rows ++ IoRows.rows ++ MediaRows.rows

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map(r => r.name -> r.build).toMap

  /** DuckDB oracle SQL, one per query, same column names.
    * MinHash and SimHash use an md5 hash family precisely so their whole
    * pipelines are portable and oracle-checked; the LSH operators embed
    * their literal plane matrices so even the APPROXIMATE results are
    * deterministic and hash-checked (approximate ≠ unverifiable).
    */
  def oracleSql: Map[String, String] = rows.map(r => r.name -> r.oracle).toMap
}
