package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Canonical loader for the driver-generated parquet tables.
  *
  * The `events` table has shipped with two physical timestamp layouts
  * across driver generations, both normalized here to:
  *   - `ts_ns: long`  — full-precision order key (what windows sort by);
  *   - `ts: timestamp` — microsecond timestamp for time bucketing.
  *
  * Layouts seen in the wild:
  *   - INT64 epoch-nanos: parquet TIMESTAMP(NANOS) surfaced as a long via
  *     `spark.sql.legacy.parquet.nanosAsLong` (and the ScaleGen twins,
  *     which store a plain ns long). `ts` is the µs truncation, matching
  *     DuckDB's ns→µs cast so oracles agree.
  *   - native TIMESTAMP / TIMESTAMP_NTZ at µs precision (current driver
  *     data). `ts_ns` is `unix_micros(ts) * 1000`, which is exactly
  *     DuckDB's `epoch_ns(ts)` on the same file, so oracles agree.
  */
object Tables {

  private def ensureNanosConf(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** Normalize an events frame (batch or streaming) to the canonical
    * `(ts_ns: long, ts: timestamp)` pair regardless of stored layout.
    * Column order matches the legacy layout: `ts_ns` in the stored
    * `ts` slot, `ts` appended last.
    */
  def normalizeEvents(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case _ =>
        val ts = col("ts").cast(org.apache.spark.sql.types.TimestampType)
        val cols = df.columns.map {
          case "ts" => (unix_micros(ts) * lit(1000L)).as("ts_ns")
          case c    => col(c)
        }
        df.select(cols :+ ts.as("ts"): _*)
    }

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    ensureNanosConf(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  def events(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "embeddings")
  def lineitem(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = apply(spark, dir, "region")
}
