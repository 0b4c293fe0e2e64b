package graft.textops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused gate kernel ([[graft.functions.Kernels.textGateStats]]) must be
  * bit-identical to the Column-expression forms it replaced — the DuckDB
  * oracles replay the Column semantics in SQL, so any divergence here is
  * an oracle break waiting to happen.
  */
class TextGateKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Boundary fixtures: whitespace variety (Java regex `\s` is exactly
    * [ \t\n\x0B\f\r] — NBSP and ideographic space are NOT separators),
    * empty/blank strings, punctuation runs, mixed-case stopwords,
    * multi-byte scripts, an astral-plane emoji (surrogate pair), and
    * Turkish dotted capital I (lowercases to TWO code points).
    */
  private val fixtures = Seq(
    "",
    " ",
    " \t\n\f\r ",
    "the quick brown fox",
    "The AND Of tHaT WAS",
    "  a  b\tc ",
    "!!!@#$%",
    "a!b:c[d`e{f~",
    "der die das und nicht",
    "el y de para que en un",
    "的是了 我不 这他",
    "café naïve résumé",
    "a b",
    "a　b",
    "😀 emoji 😀😀",
    "İstanbul İN THE city",
    "supercalifragilisticexpialidocious " * 10,
    "of the of the of the",
    "x",
    "trailing spaces   ",
    "   leading spaces",
    "tab\tseparated\ttokens\there")

  test("fused counts equal the Column forms on boundary fixtures") {
    import spark.implicits._
    val df = fixtures.toDF("t")
    val bad = df.select(
        TextOps.tokenCount(col("t")).as("k_tok"),
        TextOps.tokenCountViaSplit(col("t")).as("c_tok"),
        TextOps.punctRatio(col("t")).as("k_punct"),
        TextOps.punctRatioViaRegex(col("t")).as("c_punct"),
        TextOps.stopwordRatio(col("t")).as("k_stop"),
        TextOps.stopwordRatioViaSplit(col("t")).as("c_stop"),
        TextOps.qualityScore(col("t")).as("k_q"),
        TextOps.qualityScoreViaColumns(col("t")).as("c_q"),
        col("t"))
      .filter(col("k_tok") =!= col("c_tok") ||
        col("k_punct") =!= col("c_punct") ||
        col("k_stop") =!= col("c_stop") || col("k_q") =!= col("c_q"))
      .collect()
    assert(bad.isEmpty, bad.map(_.toString).mkString("\n"))
  }

  test("fused counts equal the Column forms on real documents") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val bad = docs.select(
        TextOps.tokenCount(col("text")).as("k_tok"),
        TextOps.tokenCountViaSplit(col("text")).as("c_tok"),
        TextOps.stopwordRatio(col("text")).as("k_stop"),
        TextOps.stopwordRatioViaSplit(col("text")).as("c_stop"),
        TextOps.qualityScore(col("text")).as("k_q"),
        TextOps.qualityScoreViaColumns(col("text")).as("c_q"))
      .filter(col("k_tok") =!= col("c_tok") ||
        col("k_stop") =!= col("c_stop") || col("k_q") =!= col("c_q"))
      .count()
    assert(bad == 0)
  }

  test("null text: fused family matches the Column forms exactly") {
    import spark.implicits._
    // NOTE `least`/`greatest` skip null operands, so BOTH quality forms
    // produce a non-null score for null text (the null token count drops
    // out of each `least`); the contract here is fused == legacy, not
    // fused == null.
    val df = Seq[Option[String]](None, Some("a b")).toDF("t")
    val r = df.select(TextOps.tokenCount(col("t")).as("k_tok"),
        TextOps.tokenCountViaSplit(col("t")).as("c_tok"),
        TextOps.qualityScore(col("t")).as("k_q"),
        TextOps.qualityScoreViaColumns(col("t")).as("c_q"))
      .collect()
    r.foreach { x =>
      assert(x.isNullAt(0) == x.isNullAt(1), x.toString)
      assert(x.isNullAt(2) == x.isNullAt(3), x.toString)
      if (!x.isNullAt(0)) assert(x.get(0) == x.get(1), x.toString)
      if (!x.isNullAt(2)) assert(x.get(2) == x.get(3), x.toString)
    }
  }
}
