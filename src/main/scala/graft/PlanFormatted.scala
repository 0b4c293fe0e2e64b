package graft

/** The plan printer: writes `explain("formatted")` output for a set of
  * registered queries to files — the optimization-round evidence
  * format (`plans/rNN/<query>_{before,after}.txt`, docs/PLANS.md).
  * Usage: PlanFormatted <outDir> <suffix> <q1,q2,...> [sfDir]
  * e.g.  PlanFormatted plans/r16 before crawl_clean,ingest_clean
  */
object PlanFormatted {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val dir = if (args.length > 3) args(3) else "/root/testdata/sf0.001"
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, dir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
