package graft.util

import graft.{SparkEntry, TestSpark}
import graft.sources.Tables
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-store fence keys on the data under the sf dir, not
  * on the dir's basename. Stores live under
  * `benchdata/stores/<basename>/<family>`, so two sf dirs named alike
  * share a store dir; a probe row must still rebuild the store when it
  * is handed the other dir's data instead of probing a store built
  * from different documents.
  */
class StoreFenceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def multiset(df: DataFrame): Map[Seq[Any], Int] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().toSeq
      .groupBy(_.toSeq).map { case (k, v) => k -> v.size }

  /** Rows whose multiplicity differs between the two runs. */
  private def mismatch(name: String, dir: String): Set[(Seq[Any], Int)] = {
    val probe = multiset(SparkEntry.queries(s"${name}_probe")(spark, dir))
    val inc = multiset(SparkEntry.queries(s"${name}_incremental")(spark, dir))
    (probe.toSet diff inc.toSet) ++ (inc.toSet diff probe.toSet)
  }

  test("image_neardup_probe rebuilds its store for another sf dir " +
      "with the same basename") {
    val name = s"fence_${java.util.UUID.randomUUID().toString.take(8)}"
    val roots = Seq.fill(2)(
      java.nio.file.Files.createTempDirectory("graft_fence").toFile)
    val Seq(evenDir, allDir) = roots.map(r => new java.io.File(r, name).toString)
    try {
      val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      docs.filter(col("doc_id") % 2 === 0)
        .write.parquet(s"$evenDir/documents.parquet")
      docs.write.parquet(s"$allDir/documents.parquet")
      // the first probe builds the media_image store from even ids only
      assert(mismatch("image_neardup", evenDir).isEmpty)
      val stale = mismatch("image_neardup", allDir)
      assert(stale.isEmpty, s"image_neardup_probe reused a store built " +
        s"from another sf dir; (row, count) pairs that differ: $stale")
    } finally {
      FileUtils.deleteQuietly(new java.io.File(s"benchdata/stores/$name"))
      roots.foreach(FileUtils.deleteQuietly)
    }
  }
}
