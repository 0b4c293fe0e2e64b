package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional 3rd arg: comma-separated subset of query names (used to
    // run the oracle gate against scaled twin tables that carry only
    // the documents/embeddings/events families)
    val selected: Map[String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame] =
      if (args.length > 2) {
        val keep = args(2).split(",").toSet
        SparkEntry.queries.filter { case (k, _) => keep(k) }
      } else SparkEntry.queries
    val spark = GraftSession.builder(GraftSession.cores).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // GEOMETRY-KNEE FENCE: the dedup_minhash / dedup_clusters /
    // dedup_resolve / split_leakage_free oracles structurally bake the
    // 8x2 MinHash geometry (and the spans oracles the w=4 winnow
    // window); the engine's AUTO paths emit the same values only while
    // the corpus stays at or below the 65536-doc knee of
    // graft.dedup.Dedup.scaledBandGeometry / scaledWinnowWindow. Fail
    // LOUDLY here rather than letting a larger-sf gate run die in
    // opaque hash mismatches. (The parquet count is footer metadata —
    // no scan.)
    val nDocs = graft.sources.Tables.documents(spark, sfDir).count()
    require(nDocs <= 65536L,
      s"correctness gate dir $sfDir has $nDocs documents, past the " +
        "65536-doc knee where Dedup.scaledBandGeometry (and " +
        "scaledWinnowWindow) leave the 8x2 / w=4 geometry the DuckDB " +
        "oracles bake structurally — gate at a smaller sf, or " +
        "parameterize those oracle CTEs on the same law first")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    spark.stop()
  }

  /** All oracle SQL as a JSON object string — shared by the verify dump
    * and the oracle-type fence spec so both see the identical payload. */
  def oracleJson: String = {
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
