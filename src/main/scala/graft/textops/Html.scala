package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → training-text extraction: the boilerplate-stripping step
  * every web-corpus pipeline runs before quality scoring and dedup
  * (the trafilatura/justext class of cleaning, reduced to its
  * deterministic core). One scan-stage projection per document —
  * every step is a codegen'd string expression, no UDF, no shuffle —
  * so at 100 TB this rides the same scan that feeds the rest of the
  * corpus-prep DAG.
  *
  * The cleaning contract (order matters and is part of the contract;
  * the oracle replays the identical sequence):
  *   1. drop `<script>`/`<style>` blocks and `<!-- comments -->`
  *      (their CONTENT is code, not prose — tag-stripping alone would
  *      leak it into the training text);
  *   2. strip every remaining tag to a single space (space, not
  *      empty: `</p><p>` must not glue adjacent words);
  *   3. decode the entity set that survives in prose, `&amp;` LAST —
  *      decoding it first would manufacture new entities out of
  *      `&amp;lt;` and double-decode (the classic ordering bug);
  *   4. collapse whitespace runs and trim.
  *
  * All patterns are RE2-safe (no backreferences or lookaround), so
  * Spark's Java regex and DuckDB's RE2 agree literally — the same
  * portability constraint [[graft.pipeline.Pipeline.piiScrub]] pins.
  */
object Html {

  /** `(?is)`: case-insensitive, dot-matches-newline — script bodies
    * span lines and tags mix case in the wild. Non-greedy `.*?` stops
    * at the FIRST closing tag, so two adjacent blocks don't fuse. */
  val scriptPattern = "(?is)<script[^>]*>.*?</script>"
  val stylePattern = "(?is)<style[^>]*>.*?</style>"
  val commentPattern = "(?s)<!--.*?-->"
  val tagPattern = "(?s)<[^>]+>"
  /** An anchor OPEN tag: `<a` followed by whitespace or `>` — counts
    * links without matching `<abbr>`/`<article>`. */
  val anchorPattern = "(?i)<a[\\s>]"
  val titlePattern = "(?is)<title[^>]*>(.*?)</title>"

  /** The entity decode table in application order — `&amp;` last (see
    * the contract above). Pure string replaces, not regexes. */
  val entityDecode: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** The cleaned prose of an HTML column as a Column expression. */
  def cleanText(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, scriptPattern, " "),
        stylePattern, " "),
      commentPattern, " ")
    val noTags = regexp_replace(noBlocks, tagPattern, " ")
    val decoded = entityDecode.foldLeft(noTags) { case (c, (ent, ch)) =>
      replace(c, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Per-document extraction record: the page title, anchor count,
    * and the cleaned prose (exported as length + md5 so the gate
    * hashes real cleaned TEXT without shipping it twice).
    *
    * Output: (id, title, n_links, clean_len, clean_fp).
    */
  def extract(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val h = col(htmlCol)
    val clean = cleanText(h)
    df.select(col(idCol),
      regexp_extract(h, titlePattern, 1).as("title"),
      size(regexp_extract_all(h, lit(anchorPattern), lit(0)))
        .cast("long").as("n_links"),
      length(clean).cast("long").as("clean_len"),
      md5(clean).as("clean_fp"))
  }

  // ---- main-content selection (the justext/trafilatura core) ----

  /** A block-LEVEL tag (open or close): the boundaries the browser
    * renders as line breaks, and therefore the segmentation unit of
    * every block-scoring boilerplate remover. `<br>` included — link
    * farms are routinely `<a>…</a><br>` chains. */
  val blockTagPattern: String =
    "(?is)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|section|article|" +
      "header|footer|nav|aside|blockquote|br)[^>]*>"

  /** Anchor ELEMENT with its content as group 2 — RE2-safe
    * (non-greedy, no lookaround), so both engines extract the same
    * anchor texts. */
  val anchorContentPattern: String = "(?is)<a(\\s[^>]*)?>(.*?)</a>"

  /** Collapsed word count of an already-cleaned (trimmed,
    * single-spaced) text column: 0 for empty, else spaces + 1. */
  private def wordsOf(cleaned: Column): Column =
    when(length(cleaned) === 0, lit(0))
      .otherwise(size(split(cleaned, " ")))

  /** Split an HTML column (script/style/comments already dropped
    * upstream) into block-level units on a \\u0001 delimiter. */
  private def blocksOf(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, scriptPattern, " "),
        stylePattern, " "),
      commentPattern, " ")
    split(regexp_replace(noBlocks, blockTagPattern, "\u0001"), "\u0001")
  }

  /** [[cleanText]]'s tag-strip + entity-decode + whitespace steps on
    * one block (or anchor content) — the per-unit cleaner. */
  private def cleanOf(b: Column): Column = {
    val noTags = regexp_replace(b, tagPattern, " ")
    val decoded = entityDecode.foldLeft(noTags) { case (c, (ent, ch)) =>
      replace(c, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  private def anchorWordsOf(b: Column): Column =
    aggregate(
      transform(
        regexp_extract_all(b, lit(anchorContentPattern), lit(2)),
        a => wordsOf(cleanOf(a))),
      lit(0), (acc, x) => acc + x)

  private def keepBlock(b: Column, minWords: Int,
                        maxLinkPct: Int): Column = {
    val w = wordsOf(cleanOf(b))
    w >= minWords && anchorWordsOf(b) * 100 <= w * maxLinkPct
  }

  /** MAIN-content text of an HTML column — [[cleanText]]'s contract
    * extended with the justext core: segment the page into
    * block-level units, score each block by length and LINK DENSITY,
    * and keep only prose-like blocks. Nav bars, footers, and
    * link-farm listings — which [[cleanText]] leaks into the training
    * text — are dropped by construction. Deterministic integer
    * arithmetic end to end (both engines replay the keep rule
    * bit-identically):
    *
    *   1. drop script/style/comment blocks (shared prefix with
    *      [[cleanText]]);
    *   2. replace every BLOCK-level tag with a \\u0001 delimiter and
    *      split — the segmentation justext performs on the DOM,
    *      expressed on the tag stream;
    *   3. per block: clean the prose ([[cleanText]]'s tag-strip +
    *      entity + whitespace steps), count its words, and count the
    *      words inside its `<a>` elements;
    *   4. KEEP a block iff `words >= minWords` AND
    *      `100 * anchor_words <= maxLinkPct * words` (link density —
    *      justext's stoplist-free core signal);
    *   5. join kept blocks with single spaces, in document order.
    */
  def mainText(html: Column, minWords: Int = 5,
               maxLinkPct: Int = 30): Column =
    graft.functions.Kernels.htmlMainStats(html, minWords, maxLinkPct)
      .getField("main")

  /** The original higher-order-function form of [[mainText]], kept as
    * the kernel-equivalence twin (HtmlKernelSpec pins bit-equality):
    * Catalyst evaluates HOF lambdas interpreted with no cross-lambda
    * subexpression elimination, so this form pays `blocksOf` once plus
    * `cleanOf` 2× per kept block — the kernel fuses it all into one
    * scan.
    */
  private[graft] def mainTextViaColumns(html: Column, minWords: Int = 5,
                                        maxLinkPct: Int = 30): Column =
    array_join(
      transform(
        filter(blocksOf(html), b => keepBlock(b, minWords, maxLinkPct)),
        cleanOf _),
      " ")

  /** Per-document MAIN-content extraction record — the
    * boilerplate-dropping twin of [[extract]] (same title/links
    * metadata, plus block accounting so a drift in segmentation or
    * the keep rule shows up as a count, not just a hash change).
    *
    * Output: (id, title, n_links, n_blocks, n_kept, main_len,
    * main_fp). One scan-stage projection per document — the
    * segmentation, per-block scoring, and join are codegen'd
    * higher-order array functions, no UDF, no shuffle.
    */
  def extractMain(df: DataFrame, idCol: String, htmlCol: String,
                  minWords: Int = 5, maxLinkPct: Int = 30): DataFrame = {
    val h = col(htmlCol)
    // ONE kernel evaluation per document (aliased in its own project so
    // CollapseProject cannot inline the non-cheap expression into each
    // consumer), then cheap field extractions — the HOF form paid
    // blocksOf 3× and the per-block cleaner up to 3× per block
    df.select(col(idCol),
        regexp_extract(h, titlePattern, 1).as("title"),
        size(regexp_extract_all(h, lit(anchorPattern), lit(0)))
          .cast("long").as("n_links"),
        graft.functions.Kernels.htmlMainStats(h, minWords, maxLinkPct)
          .as("_hm"))
      .select(col(idCol), col("title"), col("n_links"),
        col("_hm").getField("n_blocks").cast("long").as("n_blocks"),
        col("_hm").getField("n_kept").cast("long").as("n_kept"),
        length(col("_hm").getField("main")).cast("long").as("main_len"),
        md5(col("_hm").getField("main")).as("main_fp"))
  }

  /** HOF twin of [[extractMain]]'s kernel columns (n_blocks, n_kept,
    * main) for the kernel-equivalence spec.
    */
  private[graft] def extractMainViaColumns(df: DataFrame, idCol: String,
      htmlCol: String, minWords: Int = 5,
      maxLinkPct: Int = 30): DataFrame = {
    val h = col(htmlCol)
    val blocks = blocksOf(h)
    val main = mainTextViaColumns(h, minWords, maxLinkPct)
    df.select(col(idCol),
      size(filter(blocks, b => wordsOf(cleanOf(b)) > 0))
        .cast("long").as("n_blocks"),
      size(filter(blocks, b => keepBlock(b, minWords, maxLinkPct)))
        .cast("long").as("n_kept"),
      main.as("main"))
  }
}
