package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration shared by the dev harness (`Bench`,
  * `Verify`, `ScaleGen`, `PlanFormatted`) and the test suite, so a
  * timed row, its oracle dump and its plan fence all run under the
  * same planner settings.
  */
object GraftSession {
  /** Task slots for the harness mains: `SPARK_GRAFT_CPUS`, or every
    * available processor when it is unset.
    */
  def cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cores: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cores]")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    // events.parquet has shipped TIMESTAMP(NANOS); read it as
    // epoch-nanos long (graft.sources.Tables derives the µs column)
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.sql.adaptive.enabled", "true")
    // dimension tables stay broadcast-side past the 10x anchor
    // (orders at zsf1 is 25 MB — a trivial broadcast on any real
    // executor, but over the 10 MB default, which flipped q3/q5
    // to full shuffle joins); split single-file twin tables into
    // enough scan partitions to feed the cores
    .config("spark.sql.autoBroadcastJoinThreshold", "64m")
    .config("spark.sql.files.maxPartitionBytes", "16m")
}
