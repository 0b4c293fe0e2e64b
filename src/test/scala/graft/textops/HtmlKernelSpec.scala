package graft.textops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused main-content kernel ([[graft.functions.Kernels.htmlMainStats]])
  * must be bit-identical to the higher-order-function Column forms it
  * replaced — the DuckDB oracles replay the Column semantics in SQL
  * (block split, per-block clean, the keep rule), so any divergence here
  * is an oracle break waiting to happen.
  */
class HtmlKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  /** Adversarial fixtures for every contract step: tag edge cases
    * (unclosed `<`, empty `<>`, nested `<` inside a tag, tags spanning
    * lines, mixed case), entity edge cases (`&amp;lt;` single-decode
    * order, truncated entities, entity inside a tag, entity containing
    * the tag-close char), block-split edges (leading/trailing block
    * tags, adjacent delimiters, a RAW \u0001 in the text, `<br>` chains),
    * anchor edges (anchor with attributes, empty anchor, anchor split
    * across entities, unclosed anchor, uppercase `<A>`), whitespace
    * variety (\s is ASCII-only — NBSP and ideographic space are words),
    * and CJK/emoji payloads.
    */
  private val fixtures: Seq[String] = Seq(
    "",
    " ",
    "plain prose with no markup at all here",
    "<p>one</p><p>two</p>",
    "<p>short</p>",
    "<P>UPPER case block tags and <B>bold</B> inline</P>",
    "<p>a &amp;lt; b &lt; c &amp; d plus extra words here</p>",
    "<p>x&nbsp;y &quot;z&#39; more words to pass the gate</p>",
    "<p>truncated &am entity and &lt ok &;</p>",
    "<p>bare & ampersand and && double and &unknown; entity</p>",
    "<div>unclosed < bracket stays literal in this block text</div>",
    "<div>empty <> bracket pair also stays put in the text</div>",
    "<div>nested <a<b> weird tag consumed as one tag here</div>",
    "<p>tag with\nnewline <span\nclass=\"x\">inside</span> it</p>",
    "<script>drop this <p>fake block</p> entirely</script><p>keep this prose here</p>",
    "<SCRIPT a=b>mixed case script</SCRIPT><p>real words in this one block</p>",
    "<style>p { color: red }</style><p>words after style block here</p>",
    "<!-- comment with <p>block</p> inside --><p>prose after the comment</p>",
    "<nav><a href=\"/\">Home</a> <a href=\"/a\">About</a></nav>" +
      "<p>genuine prose paragraph with many real words today</p>" +
      "<div><a href=\"/x\">link</a> <a href=\"/y\">farm</a> <a>three</a>" +
      " <a href=\"/w\">four</a></div><footer>short footer</footer>",
    "<p>anchor <a>no attrs</a> and <a href=x>with attrs</a> both count words</p>",
    "<p>empty anchor <a href=x></a> contributes zero anchor words okay</p>",
    "<p>unclosed anchor <a href=x>rest of the block is anchor text words</p>",
    "<p><A HREF=\"x\">UPPER anchor</A> plus surrounding prose words here</p>",
    "<p>anchor &lt;a&gt;fake&lt;/a&gt; decoded late is just text words</p>",
    "<li>item one words</li><li>item two words</li><br><br>",
    "before any tag<p>middle block here</p>after the last tag",
    "raw\u0001delimiter splits this into two blocks right here",
    "<td>a</td><td></td><td>b</td>",
    "<p>  runs \t of \n whitespace   collapse  to one space here </p>",
    "<p>nbsp\u00A0is not a separator and ideographic\u3000space neither</p>",
    "<p>的是了 我不 这他 cjk words and 😀 emoji payload here today</p>",
    "<p>" + ("repeated filler words for a long block " * 40) + "</p>",
    "<table><tr><td>cell one words</td><td>cell two words</td></tr></table>",
    "<blockquote>quoted prose long enough to pass the word gate</blockquote>",
    "<p>trailing tag ends the doc</p><p>",
    "<p>&#39;&#39;&#39;&#39;&#39; quotes only</p>",
    "<p>&nbsp;&nbsp;&nbsp;</p>",
    "<a href=x>lonely top-level anchor farm</a>")

  private def compare(minWords: Int, maxLinkPct: Int): Unit = {
    import spark.implicits._
    val df = fixtures.zipWithIndex.map { case (h, i) => (i.toLong, h) }
      .toDF("doc_id", "html")
    val kernel = Html.extractMain(df, "doc_id", "html", minWords, maxLinkPct)
      .select(col("doc_id"), col("n_blocks"), col("n_kept"),
        col("main_len"), col("main_fp"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val kMain = df.select(col("doc_id"),
        Html.mainText(col("html"), minWords, maxLinkPct).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val twin = Html.extractMainViaColumns(df, "doc_id", "html", minWords,
        maxLinkPct)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    for (i <- fixtures.indices.map(_.toLong)) {
      val (nb, nk, mlen, mfp) = kernel(i)
      val (tnb, tnk, tmain) = twin(i)
      assert(kMain(i) == tmain,
        s"mainText mismatch on fixture $i:\n kernel=${kMain(i)}\n twin=$tmain")
      assert(nb == tnb && nk == tnk,
        s"counts mismatch on fixture $i: kernel=($nb,$nk) twin=($tnb,$tnk)")
      // Spark length() counts CODE POINTS (astral emoji = 1), Java
      // String.length counts UTF-16 units — compare like for like
      assert(mlen == tmain.codePointCount(0, tmain.length).toLong,
        s"main_len mismatch on fixture $i")
      assert(mfp == md5Hex(tmain),
        s"main_fp mismatch on fixture $i")
    }
  }

  test("kernel == HOF twin on adversarial fixtures (default thresholds)") {
    compare(minWords = 5, maxLinkPct = 30)
  }

  test("kernel == HOF twin at tight and loose thresholds") {
    compare(minWords = 1, maxLinkPct = 0)
    compare(minWords = 2, maxLinkPct = 100)
  }

  test("kernel == HOF twin on the registered fixture page shape") {
    import spark.implicits._
    // the htmlFixturePage shape from SparkEntry, with varied doc text
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog repeatedly",
      "short",
      "a b c d e f g h i j k l m n o p q r s t",
      "linkish text with <a href=\"/in\">inline anchor words here</a> ok",
      "")
    val df = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong,
        s"""<html><head><title>Doc $i</title><script>var nav = 1 &amp;&amp; 2;</script><style>a { color: blue; }</style></head><body><nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav><p>$t</p><p>Read the full guide at <a href="/guide">the documentation portal</a> for complete details today</p><div>""" +
          ("""<a href="/deal">hot deal item</a> """ * 4) +
          "</div><footer>Copyright &amp; terms</footer></body></html>")
    }.toDF("doc_id", "html")
    val kernel = Html.extractMain(df, "doc_id", "html")
      .select(col("doc_id"), col("n_blocks"), col("n_kept"), col("main_fp"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val twin = Html.extractMainViaColumns(df, "doc_id", "html")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), md5Hex(r.getString(3))))).toMap
    assert(kernel == twin)
  }
}
