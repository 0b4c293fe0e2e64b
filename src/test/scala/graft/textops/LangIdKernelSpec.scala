package graft.textops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused language-ID kernel ([[graft.functions.Kernels.langId]]) must
  * be bit-identical to the per-language Column pipeline it replaced —
  * the DuckDB lang-ID oracles replay the marker-hit + lexicographic
  * argmax rule in SQL, so any divergence is an oracle break.
  */
class LangIdKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Edge fixtures: empty/blank, und (no markers), single-language,
    * cross-language TIES (the lexicographic-max rule), repeated filler
    * (distinct semantics), case variety (lower() before tokenize),
    * unicode whitespace (NOT a \s separator), CJK single-char markers
    * glued (no-space text tokenizes as one "token" ≠ any marker),
    * CJK markers space-separated, long-token skip, and Turkish İ
    * (multi-char lowercase mapping).
    */
  private val fixtures: Seq[String] = Seq(
    "",
    " \t\n ",
    "the quick fox and the dog was in that box",
    "der hund und die katze ist nicht ein vogel",
    "le chat et la maison est pour que dans un jour",
    "el y de para que en un dia mas",
    "的 是 了 在 和 有 我 不 这 他",
    "的是了在和有我不这他",
    "no markers whatsoever zzz qqq",
    "THE AND OF THAT WAS",
    "The Der Le El",
    "the the the the the und und und und und",
    "the und",
    "de de de de",
    "y et",
    "est est is is",
    "a the und nbsp glued",
    "das　ist　ideographic space",
    "İstanbul IS THE city of the bosphorus and that",
    "supercalifragilisticexpialidocious " * 5,
    "et la y el the der 的",
    "word: the, und; punct.attached")

  test("kernel == per-language Column twin on edge fixtures") {
    import spark.implicits._
    val df = fixtures.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val kernel = df.select(col("doc_id"), TextOps.langId(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val twin = df.select(col("doc_id"),
        TextOps.langIdViaColumns(col("text")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    for (i <- fixtures.indices.map(_.toLong))
      assert(kernel(i) == twin(i),
        s"langId mismatch on fixture $i '${fixtures(i.toInt).take(40)}': " +
          s"kernel=${kernel(i)} twin=${twin(i)}")
  }

  test("kernel == twin on the documents fixture corpus") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val both = d.select(col("doc_id"),
      TextOps.langId(col("text")).as("k"),
      TextOps.langIdViaColumns(col("text")).as("t"))
    assert(both.filter(col("k") =!= col("t")).count() == 0)
    // and through the CJK segmentation front (lang_id_cjk's shape)
    val seg = d.select(col("doc_id"),
      TextOps.langId(TextOps.segmentScripts(col("text"))).as("k"),
      TextOps.langIdViaColumns(TextOps.segmentScripts(col("text"))).as("t"))
    assert(seg.filter(col("k") =!= col("t")).count() == 0)
  }
}
