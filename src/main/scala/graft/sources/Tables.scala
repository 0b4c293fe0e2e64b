package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    val df = parquet(spark, s"$dir/$name.parquet")
    if (name == "events") normalizeEvents(df) else df
  }

  /** `spark.read.parquet(path)` with the schema inferred once per
    * listing. Spark's inference reads footers in a Spark job on every
    * read, even of one file; here a path read before is read with its
    * cached schema, which submits no job. The cache is keyed on the
    * qualified path and the session's `spark.sql.parquet.*` and
    * `spark.sql.legacy.parquet.*` values, and an entry holds only while
    * the [[fence]] of the read's own file listing matches: a table
    * rewritten in place, a store appended to or compacted, or a changed
    * parquet setting infers again (a changed listing lists twice, once
    * with the stale schema and once for the inference).
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.")
    }
    val key = (p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString, conf)
    Option(schemas.get(key)).flatMap { case (fence, schema) =>
      val df = spark.read.schema(schema).parquet(path)
      if (listingFence(df).contains(fence)) Some(df) else None
    }.getOrElse {
      val df = spark.read.parquet(path)
      listingFence(df).foreach(f => schemas.put(key, (f, df.schema)))
      df
    }
  }

  /** Inferred schemas by (qualified path, parquet settings): a small
    * LRU shared by every session and thread, each entry holding the
    * SHA-256 of the listing fence it was inferred from.
    */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Map[String, String]), (String, StructType)](
        16, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (String, Map[String, String]), (String, StructType)]): Boolean =
        size > 64
    })

  /** Digest of [[fence]] over the listing the read's file index made. */
  private def listingFence(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    }.collect {
      case HadoopFsRelation(i: PartitioningAwareFileIndex, _, _, _, _, _) =>
        java.util.HexFormat.of.formatHex(
          java.security.MessageDigest.getInstance("SHA-256").digest(
            fence(i.rootPaths.head, i.allFiles()).getBytes("UTF-8")))
    }

  /** A listing as text: the root's path, then one sorted
    * `relative-path length mtime` line per file under it.
    */
  private[graft] def fence(root: Path, files: Iterable[FileStatus]): String = {
    val base = root.toUri
    (base.getPath +: files.map { f =>
      s"${base.relativize(f.getPath.toUri).getPath} ${f.getLen} ${f.getModificationTime}"
    }.toSeq.sorted).mkString("\n")
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
