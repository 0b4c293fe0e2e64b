package graft.multimodal

import graft.{SparkEntry, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The media rows' decision identities at sf0.001. The oracle map
  * gives each `_probe` row its in-DAG twin's oracle, which holds only
  * while the persisted-store form decides exactly as the in-DAG form:
  * `X_neardup_probe` ≡ `X_neardup_incremental` and
  * `pair_neardup{tag}_probe` ≡ `pair_neardup{tag}`, as row multisets.
  */
class MediaRowsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def multiset(name: String): Map[Seq[Any], Int] = {
    val df: DataFrame = SparkEntry.queries(name)(spark, dir)
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().toSeq
      .groupBy(_.toSeq).map { case (k, v) => k -> v.size }
  }

  test("the registry carries exactly the 21 media rows") {
    val media = SparkEntry.queries.keySet.filter(
      _.matches("(image|video|audio|pair)_neardup.*"))
    assert(media == Set(
      "image_neardup", "image_neardup_incremental", "image_neardup_probe",
      "image_neardup_probe_updated",
      "video_neardup", "video_neardup_incremental", "video_neardup_probe",
      "video_neardup_probe_updated",
      "audio_neardup", "audio_neardup_incremental", "audio_neardup_probe",
      "audio_neardup_probe_updated",
      "pair_neardup", "pair_neardup_probe", "pair_neardup_probe_updated",
      "pair_neardup_video", "pair_neardup_video_probe",
      "pair_neardup_video_probe_updated",
      "pair_neardup_audio", "pair_neardup_audio_probe",
      "pair_neardup_audio_probe_updated"))
  }

  /** Asserts `probe` ≡ `inDag` as non-empty row multisets, reporting
    * only the (row, count) pairs that differ.
    */
  private def assertSame(probe: String, inDag: String): Unit = {
    val a = multiset(probe)
    val b = multiset(inDag)
    assert(b.nonEmpty, s"$inDag returned no rows")
    val diff = (a.toSet diff b.toSet) ++ (b.toSet diff a.toSet)
    assert(diff.isEmpty, s"$probe differs from $inDag: $diff")
  }

  for ((modality, pairTag) <- Seq("image" -> "", "video" -> "_video",
      "audio" -> "_audio")) {
    test(s"$modality: the probe rows decide as their in-DAG twins") {
      assertSame(s"${modality}_neardup_probe",
        s"${modality}_neardup_incremental")
      assertSame(s"pair_neardup${pairTag}_probe", s"pair_neardup$pairTag")
    }
  }
}
