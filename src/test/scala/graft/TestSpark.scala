package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(4)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val INF: Double = Double.PositiveInfinity

  /** 1-D series → (t, value) frame with explicit positional order key,
    * the compatibility mode for the reference's index-is-time semantics.
    */
  def seriesDf(values: Seq[Double]): DataFrame = {
    val s = spark
    import s.implicits._
    values.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("t", "value")
  }

  /** Multi-series (long format): seriesId → values. */
  def seriesDf2(series: Map[String, Seq[Double]]): DataFrame = {
    val s = spark
    import s.implicits._
    series.toSeq.flatMap { case (id, vs) =>
      vs.zipWithIndex.map { case (v, i) => (id, i.toLong, v) }
    }.toDF("series_id", "t", "value")
  }
}
