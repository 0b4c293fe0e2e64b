package graft.textops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class VocabSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import scala.jdk.CollectionConverters._

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("ngrams: sliding windows, short docs yield empty (not a fallback gram)") {
    import spark.implicits._
    def grams(t: String, n: Int): Seq[String] =
      Seq(t).toDF("t").select(Vocab.ngrams(TextOps.tokens(lower(col("t"))), n))
        .collect().head.getSeq[String](0)
    assert(grams("a b c d", 2) == Seq("a b", "b c", "c d"))
    assert(grams("a b c d", 3) == Seq("a b c", "b c d"))
    assert(grams("a b", 3) == Seq.empty)
    assert(grams("", 2) == Seq.empty)
    assert(grams("solo", 1) == Seq("solo"))
  }

  test("topNgrams: counts across docs, (cnt desc, ngram) total order") {
    val d = docs(
      1L -> "the cat sat",
      2L -> "the cat ran",
      3L -> "a dog ran")
    val top = Vocab.topNgrams(d, "text", n = 2, k = 3).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // "the cat" appears twice; the four singletons tie and break
    // alphabetically — k=3 keeps the first two of them
    assert(top == Seq("the cat" -> 2L, "a dog" -> 1L, "cat ran" -> 1L))
  }

  test("lmScore: add-one bigram model probabilities by hand") {
    // tokens: a:3 b:2 c:1, V=3; bigrams: "a b":2, "a c":1
    // doc1 = ln((2+1)/(3+3)) = ln(0.5); doc3 = ln((1+1)/(3+3)) = ln(1/3)
    val d = docs(1L -> "a b", 2L -> "a b", 3L -> "a c")
    val out = Vocab.lmScore(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == (1L, BigDecimal(math.log(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    assert(out(3L)._2 == BigDecimal(math.log(1.0 / 3))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("lmScore invariants hold on random corpora (fuzz)") {
    // P(w2|w1) = (c12+1)/(c1+V) with c12 <= c1 and V >= 1 forces
    // p <= 1, so avg_logp <= 0 for EVERY doc; n_bigrams must equal
    // the doc's token count minus one; docs under 2 tokens emit no row
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val vocab = (0 until 5 + rnd.nextInt(20)).map(i => s"t$i")
      val ds = (0L until 40L).map { i =>
        val n = rnd.nextInt(8) // 0..7 tokens
        i -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val expected = ds.collect {
        case (id, t) if t.split("\\s+").count(_.nonEmpty) >= 2 =>
          id -> (t.split("\\s+").count(_.nonEmpty) - 1).toLong
      }.toMap
      val out = Vocab.lmScore(docs(ds: _*), "doc_id", "text").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(out.keySet == expected.keySet, s"trial $trial")
      out.foreach { case (id, (nb, lp)) =>
        assert(nb == expected(id), s"trial $trial doc $id")
        assert(lp <= 0.0, s"trial $trial doc $id avg_logp $lp")
      }
    }
  }

  test("lmScore: shuffled text scores below fluent text of the same tokens") {
    // the model IS the corpus's transition structure: a doc whose token
    // order contradicts the dominant order has rare bigrams -> lower
    // average log-probability, though its unigram profile is identical
    val fluent = (1L to 20L).map(_ -> "the quick brown fox jumps")
    val shuffled = Seq(21L -> "fox the jumps brown quick")
    val out = Vocab.lmScore(docs(fluent ++ shuffled: _*), "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(21L) < out(1L))
  }

  test("corpusProfileApprox: discrete quantile at rank ceil(p*n), rest equals exact") {
    import spark.implicits._
    // one stratum, token counts 1..4: below the sketch's compression
    // threshold approx_percentile is the exact discrete quantile —
    // p50 = value at rank ceil(0.5*4) = 2, p90 = rank ceil(0.9*4) = 4
    val d = Seq((1L, "a", "en", "s"), (2L, "a b", "en", "s"),
        (3L, "a b c", "zh", "s"), (4L, "a b c d", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
    val r = Vocab.corpusProfileApprox(d, "source", "lang", "text")
      .collect().head
    assert(r.getDouble(r.fieldIndex("p50_tokens")) == 2.0)
    assert(r.getDouble(r.fieldIndex("p90_tokens")) == 4.0)
    // the non-percentile columns are identical to the exact datasheet
    val exact = Vocab.corpusProfile(d, "source", "lang", "text")
      .collect().head
    for (c <- Seq("n_docs", "n_tokens", "mean_quality", "n_langs"))
      assert(r.get(r.fieldIndex(c)) == exact.get(exact.fieldIndex(c)), c)
  }

  test("tfidfTerms: ubiquitous terms score zero-ish, distinctive terms rank first") {
    val d = docs(
      1L -> "shared shared quantum",
      2L -> "shared lattice",
      3L -> "shared lattice plasma")
    val rows = Vocab.tfidfTerms(d, "doc_id", "text", k = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(5))).toSeq
    val first = rows.filter(_._3 == 1).map(t => t._1 -> t._2).toMap
    // 'shared' is in every doc: ln(4/4) = 0, so each doc's rank-1 term
    // is its distinctive one
    assert(first == Map(1L -> "quantum", 2L -> "lattice", 3L -> "plasma"))
    // every doc emits at most k rows and ranks are 1..k dense
    rows.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted == (1 to rs.size))
    }
  }

  test("tfidfTerms: empty/whitespace docs contribute no rows but count in N") {
    val d = docs(1L -> "alpha beta", 2L -> "   ", 3L -> "alpha")
    val rows = Vocab.tfidfTerms(d, "doc_id", "text", k = 5)
      .collect().toSeq
    assert(!rows.exists(_.getLong(0) == 2L))
    // N = 3 (the blank doc still counts): alpha's df=2 -> ln(4/3) > 0
    val alpha = rows.find(r => r.getLong(0) == 3L).get
    assert(alpha.getString(1) == "alpha")
    assert(alpha.getDouble(4) > 0.0)
  }

  test("noveltyScore: unique phrasing scores 1, recombined boilerplate scores 0") {
    val d = docs(
      1L -> "aurora borealis shimmered tonight",         // all bigrams unique
      2L -> "the quick fox and the quick fox again",     // self-repeats still novel corpus-wide
      3L -> "the quick fox",                             // all bigrams also in doc 2
      4L -> "x")                                         // < 2 tokens: no row
    val out = Vocab.noveltyScore(d, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out(1L) == (3L, 1.0))
    assert(!out.contains(4L))
    // doc 3's two bigrams ("the quick", "quick fox") both appear in doc 2
    assert(out(3L) == (2L, 0.0))
    // doc 2: distinct bigrams = {the quick, quick fox, fox and, and the,
    // fox again} — "the quick"/"quick fox" shared with doc 3, other 3 unique
    assert(out(2L) == (5L, 0.6))
  }

  test("corpusProfile: per-stratum counts, percentiles, and language spread") {
    import spark.implicits._
    val d = Seq(
      (1L, "web", "en", "one two three four"),
      (2L, "web", "en", "five six"),
      (3L, "web", "de", "sieben acht neun zehn elf zwoelf"),
      (4L, "books", "en", "a single row stratum with seven tokens"))
      .toDF("doc_id", "source", "lang", "text")
    val out = Vocab.corpusProfile(d, "source", "lang", "text")
      .collect().map(r => r.getString(0) -> r).toMap
    val web = out("web")
    assert(web.getLong(1) == 3 && web.getLong(2) == 12) // 4+2+6 tokens
    assert(web.getDouble(4) == 4.0)  // p50 of (2,4,6)
    assert(web.getLong(6) == 2)      // en + de
    val books = out("books")
    assert(books.getLong(1) == 1 && books.getLong(2) == 7)
    assert(books.getDouble(4) == 7.0 && books.getDouble(5) == 7.0)
    assert(books.getLong(6) == 1)
  }

  test("ngrams kernel equals the transform form, boundary cases included") {
    import spark.implicits._
    val fixtures = Seq(
      Seq("a", "b", "c", "a", "b"),   // duplicates preserved in order
      Seq("a", "b"),                  // exactly n
      Seq("only"),                    // fewer than n -> empty
      Seq.empty[String],
      Seq("x", "y", "z", "x", "y", "z"))
    val df = fixtures.toDF("toks")
    for (n <- Seq(1, 2, 3)) {
      val bad = df.select(Vocab.ngrams(col("toks"), n).as("k"),
          Vocab.ngramsViaTransform(col("toks"), n).as("c"))
        .filter(col("k") =!= col("c")).count()
      assert(bad == 0, s"n=$n kernel != transform form")
    }
  }

  test("noveltyScore kernel form equals the all-built-ins twin") {
    val d = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def m(x: org.apache.spark.sql.DataFrame) =
      x.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val a = m(Vocab.noveltyScore(d, "doc_id", "text"))
    assert(a == m(Vocab.noveltyScoreViaJoin(d, "doc_id", "text")))
  }

  test("domainFilter: aggregate-quality drop, minDocs drop, NULL domain surfaces") {
    import spark.implicits._
    val good = "the quick brown fox jumps over the lazy dog and then " +
      "walks away to find some more interesting things to do today"
    val df = Seq(
      (1L, Option("good.com"), good),
      (2L, Option("good.com"), good),
      (3L, Option("spam.com"), "!!! ??? !!! ??? !!!"),
      (4L, Option("spam.com"), "!!! ??? !!! ??? !!!"),
      (5L, Option("lone.com"), good),              // 1 doc < minDocs
      (6L, Option.empty[String], good))            // dirty row
      .toDF("doc_id", "domain", "text")
    val got = Vocab.domainFilter(df, "domain", "text")
      .select("doc_id", "keep").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> true, 2L -> true, 3L -> false, 4L -> false,
      5L -> false, 6L -> false))
    // every input row surfaced — nothing silently dropped
    assert(got.size == 6)
  }

  test("topNgrams plan: partial aggregation + TakeOrdered, no global sort exchange") {
    val d = docs(1L -> "a b c a b", 2L -> "b c d")
    val plan = Vocab.topNgrams(d, "text", n = 2, k = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected distributed top-k, got:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"),
      s"expected map-side partial aggregation, got:\n$plan")
  }
}
