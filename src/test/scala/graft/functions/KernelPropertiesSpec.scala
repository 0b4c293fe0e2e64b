package graft.functions

import graft.TestSpark
import graft.textops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property-style fuzz over the batch kernels: a generated corpus of
  * adversarial texts (multi-byte chars, surrogate pairs, whitespace
  * runs, empties, heavy repetition) must produce IDENTICAL results from
  * each kernel and its Column-expression twin — the twin is what the
  * DuckDB oracles mirror, so kernel/twin identity is the oracle-safety
  * invariant. One DataFrame per test keeps it to a few Spark jobs.
  */
class KernelPropertiesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val wordGen: Gen[String] = Gen.oneOf(
    Gen.stringOfN(3, Gen.alphaNumChar),
    Gen.oneOf("é", "déjà", "的是", "œuvre", "🙂", "a🙂b", "x"),
    Gen.const("dup"))
  private val sepGen: Gen[String] = Gen.oneOf(" ", "  ", "\t", " \n ")
  private val docGen: Gen[String] = for {
    n <- Gen.chooseNum(0, 12)
    ws <- Gen.listOfN(n, wordGen)
    seps <- Gen.listOfN(n, sepGen)
  } yield ws.zip(seps).map { case (w, s) => w + s }.mkString

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    val docs = Gen.listOfN(80, docGen).sample.getOrElse(Nil) ++
      Seq("", " ", "one", "a b", "🙂🙂🙂🙂")
    docs.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("fuzz: WordShingles + MinHashSig + XxSortedHashes == twins") {
    val toks = TextOps.tokens(lower(col("text")))
    for (n <- Seq(1, 2, 3)) {
      val rows = corpus.select(toks.as("_t"))
        .select(
          TextOps.shinglesFromTokens(col("_t"), n).as("ks"),
          TextOps.shinglesFromTokensExpanded(col("_t"), n).as("es"))
        .select(col("ks"), col("es"),
          Kernels.minhashSig(col("ks"), 8).as("km"),
          transform(col("es"), s => md5(s)).as("_m"))
        .select(col("ks"), col("es"), col("km"),
          transform(col("_m"),
            m => conv(substring(m, 1, 15), 16, 10).cast("long")).as("_h1"),
          transform(col("_m"),
            m => conv(substring(m, 17, 14), 16, 10).cast("long")).as("_h2"),
          Kernels.xxSortedHashes(col("ks")).as("kx"),
          array_sort(transform(col("es"), s => xxhash64(s))).as("ex"))
        .select(col("ks"), col("es"), col("km"), col("kx"), col("ex"),
          graft.dedup.Dedup.minhashSignatureFromHalves(
            col("_h1"), col("_h2"), 8).as("em"))
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"shingles n=$n")
        assert(r.getSeq[Any](2) == r.getSeq[Any](5), s"minhash n=$n")
        assert(r.getSeq[Long](3) == r.getSeq[Long](4), s"xxhash n=$n")
      }
    }
  }

  test("fuzz: KgramHashes == twin") {
    for (k <- Seq(1, 4, 9)) {
      val rows = corpus.select(
        Kernels.kgramHashes(col("text"), k).as("kk"),
        TextOps.kgramHashesExpanded(col("text"), k).as("ek")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"kgram k=$k")
      }
    }
  }
}
