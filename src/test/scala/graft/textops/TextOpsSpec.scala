package graft.textops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def one(text: String, c: org.apache.spark.sql.Column): Any = {
    import spark.implicits._
    Seq(text).toDF("t").select(c).collect().head.get(0)
  }

  test("tokens drop empty strings from ragged whitespace") {
    assert(one("  a  b\tc ", size(TextOps.tokens(col("t")))) == 3)
    assert(one("", size(TextOps.tokens(col("t")))) == 0)
  }

  test("segmentScripts: one token per no-space-script code point") {
    def toks(t: String): Seq[String] = {
      import spark.implicits._
      Seq(t).toDF("t").select(TextOps.tokens(TextOps.segmentScripts(col("t"))))
        .collect().head.getSeq[String](0)
    }
    // Han + kana segment per code point; Latin words stay words
    assert(toks("hello 東京タワー world") ==
      Seq("hello", "東", "京", "タ", "ワ", "ー", "world"))
    // a no-space Han run no longer collapses to one "token"
    assert(toks("这是一个测试") == Seq("这", "是", "一", "个", "测", "试"))
    // Thai without combining signs: one token per code point (the
    // pre-base vowel U+0E44 is NOT a combining sign — it stands alone)
    assert(toks("ไทย") == Seq("ไ", "ท", "ย"))
    // Thai WITH a combining vowel: the sign attaches to its base —
    // grapheme clusters, not code points (round 12; per-code-point
    // splitting severed ิ from ก and inflated SEA token counts ~2x)
    assert(toks("กิน") == Seq("กิ", "น"))
    // Khmer: dependent vowel + coeng attach to the preceding base
    // (coeng + following consonant staying separate is the documented
    // extended-grapheme-cluster approximation)
    assert(toks("ខ្មែរ") == Seq("ខ្", "មែ", "រ"))
    // Myanmar: medials, asat and dependent vowels attach
    assert(toks("မြန်မာ") == Seq("မြ", "န်", "မာ"))
    // an orphan LEADING sign (no base) starts its own cluster
    assert(toks("ิก") == Seq("ิ", "ก"))
    // supplementary-plane Han (CJK Ext B) matches as a CODE POINT —
    // the surrogate pair must never split into two garbage tokens
    assert(toks("a𠀀b") == Seq("a", "𠀀", "b"))
    // Korean has inter-word spaces: Hangul is deliberately untouched
    assert(toks("한국어 텍스트") == Seq("한국어", "텍스트"))
    // pure space-script text is unchanged by the pre-pass
    assert(toks("plain ascii text!") == Seq("plain", "ascii", "text!"))
    // mixed: ideographs inside a Latin word boundary split out
    assert(toks("abc中def") == Seq("abc", "中", "def"))
  }

  test("segmentScripts threads zh through langId and the gate kernel") {
    val zh = "的是了在和有我不这他"
    // unsegmented: the whole string is ONE token, no marker hits → und
    assert(one(zh, TextOps.langId(col("t"))) == "und")
    // segmented: every zh stopword is its own token → zh wins
    assert(one(zh, TextOps.langId(TextOps.segmentScripts(col("t")))) == "zh")
    // the fused gate kernel sees the same boundaries (kernel ≡ split)
    assert(one(zh, TextOps.tokenCount(TextOps.segmentScripts(col("t")))) == 10)
    val sr = one(zh, TextOps.stopwordRatio(TextOps.segmentScripts(col("t"))))
      .asInstanceOf[Double]
    assert(sr == 1.0, s"all-stopword zh text should ratio 1.0, got $sr")
  }

  test("quality score stays in [0, 1] across degenerate inputs") {
    for (t <- Seq("", "!!!", "a", ("the and of to in " * 40),
        "x " * 500, "@#$%^&*" * 30)) {
      val q = one(t, TextOps.qualityScore(col("t"))).asInstanceOf[Double]
      assert(q >= 0.0 && q <= 1.0, s"'${t.take(20)}' -> $q")
    }
  }

  test("language ID picks the marker-dense language, und on no hits") {
    assert(one("der die das und ist von", TextOps.langId(col("t"))) == "de")
    assert(one("the cat and the dog of it", TextOps.langId(col("t"))) == "en")
    assert(one("zzz qqq www", TextOps.langId(col("t"))) == "und")
  }

  test("fingerprint is whitespace/case-insensitive but content-sensitive") {
    val a = one("Hello   World", TextOps.fingerprint(col("t")))
    val b = one("  hello world ", TextOps.fingerprint(col("t")))
    val c = one("hello worlds", TextOps.fingerprint(col("t")))
    assert(a == b && a != c)
  }

  test("repStats: planted repetition lights up the right fraction") {
    import spark.implicits._
    val df = Seq(
      (1L, "spam spam spam spam"),            // one token repeated
      (2L, "alpha beta gamma delta epsilon"), // all distinct
      (3L, "go stop go stop go stop"),        // repeated 2-grams
      (4L, ""),                               // empty
      (5L, "solo")).toDF("doc_id", "text")
    val out = TextOps.repStats(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r).toMap
    // doc 1: 4 tokens, 1 distinct → dup_tok 0.75; top_tok 4/4 = 1.0;
    // 3 identical 2-grams → dup_2gram 1 - 1/3
    assert(out(1L).getInt(1) == 4)
    assert(out(1L).getDouble(2) == 0.75)
    assert(math.abs(out(1L).getDouble(3) - (1.0 - 1.0 / 3)) < 1e-6)
    assert(out(1L).getDouble(5) == 1.0)
    // doc 2: everything distinct → all zero, top 1/5
    assert(out(2L).getDouble(2) == 0.0 && out(2L).getDouble(3) == 0.0 &&
      out(2L).getDouble(4) == 0.0)
    assert(out(2L).getDouble(5) == 0.2)
    // doc 3: 6 tokens {go,stop} → dup_tok 4/6; 5 2-grams, 2 distinct;
    // 4 3-grams, 2 distinct; top 3/6
    assert(math.abs(out(3L).getDouble(2) - 4.0 / 6) < 1e-6)
    assert(math.abs(out(3L).getDouble(3) - (1.0 - 2.0 / 5)) < 1e-6)
    assert(math.abs(out(3L).getDouble(4) - (1.0 - 2.0 / 4)) < 1e-6)
    assert(out(3L).getDouble(5) == 0.5)
    // empty + single-token edges: all fractions 0 except solo's top=1
    assert(out(4L).getInt(1) == 0 && out(4L).getDouble(5) == 0.0)
    assert(out(5L).getDouble(2) == 0.0 && out(5L).getDouble(5) == 1.0)
  }

  test("shingles: fewer tokens than n collapses to one joined shingle") {
    import spark.implicits._
    val out = Seq("a b").toDF("t")
      .select(TextOps.shingles(col("t"), 3)).collect().head.getSeq[String](0)
    assert(out == Seq("a b"))
  }

  test("winnowing: shared substrings share fingerprints, disjoint text mostly not") {
    import spark.implicits._
    val common = "the quick brown fox jumps over the lazy dog"
    val df = Seq(
      (1L, s"PREFIX AAA $common SUFFIX BBB"),
      (2L, s"other start $common different end"),
      (3L, "completely unrelated content with nothing shared here at all"))
      .toDF("doc_id", "text")
    val fps = TextOps.winnowing(df, "doc_id", "text").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    val shared12 = fps(1L).intersect(fps(2L)).size
    val shared13 = fps(1L).intersect(fps(3L)).size
    assert(shared12 > 0, "docs sharing a long substring must share fingerprints")
    assert(shared13 < shared12)
  }

  test("winnowing kernel equals the relational window spec, edge cases included") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs on"),
      (2L, "aaaaaaaaaaaaaaaa"),    // all-equal hashes: tie handling
      (3L, "short"),               // len < k: single truncated k-gram
      (4L, "exactly11ch"),         // len - k + 1 = w: one full window
      (5L, ""),                    // empty: one k-gram of ""
      (6L, null.asInstanceOf[String])) // null text: no rows, both forms
      .toDF("doc_id", "text")
    def sets(out: Array[org.apache.spark.sql.Row]) =
      out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val kernel = sets(TextOps.winnowing(df, "doc_id", "text").collect())
    val spec = sets(TextOps.winnowingViaWindow(df, "doc_id", "text").collect())
    assert(kernel == spec)
    assert(!kernel.contains(6L))
  }

  test("punct ratio counts ASCII punctuation only") {
    assert(one("ab!?", TextOps.punctRatio(col("t"))) == 0.5)
    assert(one("", TextOps.punctRatio(col("t"))) == 0.0)
  }

  test("qualityFilter: rule boundaries, reason ordering, empty text") {
    import spark.implicits._
    val good = (("the and of " * 7).trim)                // 21 toks, stopword-rich
    val short = "the and of one two"                      // 5 toks < 20
    val noStop = (1 to 25).map(i => s"tok$i").mkString(" ") // 25 toks, 0 stop
    val boundary = (("the and of " * 6) + "the and").trim // exactly 20 toks
    val rows = Seq((1L, good), (2L, short), (3L, noStop), (4L, boundary),
      (5L, ""))
    val out = TextOps.qualityFilter(rows.toDF("doc_id", "text"),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getString(3))).toMap
    assert(out(1L) == ((21L, true, "")))
    assert(out(2L) == ((5L, false, "min_len")))
    assert(out(3L)._2 == false && out(3L)._3 == "stopword")
    assert(out(4L)._1 == 20L && out(4L)._2 == true) // >= is inclusive
    // empty text fails length AND word-length AND stopword, in
    // declaration order
    assert(out(5L) == ((0L, false, "min_len,word_len,stopword")))
  }
}
