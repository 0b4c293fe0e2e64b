package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

/** Single-pass kernel for [[graft.textops.Html.mainText]] /
  * [[graft.textops.Html.extractMain]] — the justext block-scoring core.
  *
  * The Column form is a tree of higher-order array functions
  * (`filter`/`transform` over the block split), and Catalyst evaluates
  * HOF lambda bodies on the interpreted path with NO common-subexpression
  * elimination across lambdas: per document, `blocksOf` (three
  * whole-document regex replaces + the block split) ran up to 3×
  * (n_blocks filter, n_kept filter, main transform) and the per-block
  * cleaner (`cleanOf`: tag strip + 5 entity replaces + whitespace
  * collapse) ran 2-3× per block (once inside the keep-rule filter, once
  * in the join transform, once in the n_blocks filter). This kernel
  * evaluates everything ONCE per document in a fused scan.
  *
  * BIT-IDENTICAL to the Column form (the HOF twins stay in Html.scala as
  * `private[graft]` equivalence-spec twins; HtmlKernelSpec pins equality
  * on adversarial and fixture-shaped documents), so every DuckDB oracle
  * that replays the keep rule is unchanged. The contract it replicates,
  * step by step:
  *
  *   1. drop script/style/comment blocks (the same three compiled
  *      regexes, applied in the same order, replacement " ");
  *   2. split into block units on block-level tags — replicated as
  *      regions between [[graft.textops.Html.blockTagPattern]] matches,
  *      additionally split on literal \u0001 (the Column form replaces
  *      tags WITH \u0001 then splits on it, so a raw \u0001 in the
  *      input is also a block boundary);
  *   3. per block, the fused cleaner: a literal `<...>` tag becomes one
  *      space (`<[^>]+>` semantics: an unclosed `<` or an empty `<>`
  *      stays literal); the 6-entry entity table decodes in one scan
  *      (equivalent to the sequential `replace` chain because entity
  *      occurrences are disjoint — no entity's body contains `&` — and
  *      only `&amp;`, applied last, emits a `&`); ASCII `\s` runs
  *      collapse to one space; leading/trailing spaces drop (Spark's
  *      `trim` removes 0x20 only — decoded entities and non-\s unicode
  *      whitespace are NOT re-scanned, matching the
  *      strip-then-decode-then-collapse order of the Column form);
  *   4. words = `size(split(clean, " "))` = non-space runs (0 for
  *      empty); anchor words = the same count over the cleaned content
  *      (group 2) of each `<a ...>...</a>` element of the RAW block;
  *   5. keep iff `words >= minWords && anchorWords * 100 <= words *
  *      maxLinkPct` (Int arithmetic, like the Column form);
  *   6. main = kept blocks' cleaned text joined with single spaces;
  *      n_blocks counts blocks with words > 0; n_kept counts kept.
  */
object HtmlMainUtil {
  import graft.textops.Html

  private val scriptP = Pattern.compile(Html.scriptPattern)
  private val styleP = Pattern.compile(Html.stylePattern)
  private val commentP = Pattern.compile(Html.commentPattern)
  private val blockTagP = Pattern.compile(Html.blockTagPattern)
  private val anchorContentP = Pattern.compile(Html.anchorContentPattern)

  /** Entity table as parallel arrays (bodies after the '&'), decode
    * target chars. Order irrelevant to the scan (first chars are
    * pairwise distinct; see the equivalence argument above).
    */
  private val entBodies: Array[String] =
    Html.entityDecode.map(_._1.substring(1)).toArray
  private val entChars: Array[Char] = Array(' ', '<', '>', '"', '\'', '&')

  private def isAsciiWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' ||
      c == '\r'

  /** Fused per-block cleaner: tag strip + entity decode + whitespace
    * collapse + 0x20 trim, with word counting. When `out` is null only
    * the word count is computed (the anchor-content path).
    * Returns the word count; the cleaned text (if requested) is
    * appended to `out` (no separator — caller handles joining).
    */
  private def cleanCount(b: String, from: Int, until: Int,
                         out: java.lang.StringBuilder): Int = {
    var words = 0
    var pendingSpace = false
    var started = false
    var atWordStart = true
    val mark = if (out != null) out.length else 0
    var i = from
    while (i < until) {
      val c = b.charAt(i)
      var emit = '\u0000'
      var isSpace = false
      var consumed = 1
      if (c == '<') {
        // `<[^>]+>`: needs at least one non-'>' then '>'
        var j = i + 1
        while (j < until && b.charAt(j) != '>') j += 1
        if (j < until && j > i + 1) { isSpace = true; consumed = j + 1 - i }
        else emit = '<'
      } else if (c == '&') {
        var k = 0
        var hit = -1
        while (hit < 0 && k < entBodies.length) {
          val body = entBodies(k)
          if (i + 1 + body.length <= until &&
              b.regionMatches(i + 1, body, 0, body.length)) hit = k
          k += 1
        }
        if (hit >= 0) {
          consumed = 1 + entBodies(hit).length
          if (entChars(hit) == ' ') isSpace = true else emit = entChars(hit)
        } else emit = '&'
      } else if (isAsciiWs(c)) {
        isSpace = true
      } else emit = c
      if (isSpace) { if (started) pendingSpace = true; atWordStart = true }
      else {
        if (atWordStart) { words += 1; atWordStart = false }
        if (out != null) {
          if (pendingSpace) { out.append(' '); pendingSpace = false }
          out.append(emit)
        } else pendingSpace = false
        started = true
      }
      i += consumed
    }
    if (out != null && words == 0) out.setLength(mark)
    words
  }

  /** Sum of cleaned word counts over the block's `<a>` element
    * contents.
    */
  private def anchorWords(b: String): Int = {
    val m = anchorContentP.matcher(b)
    var total = 0
    while (m.find()) {
      val s = m.start(2)
      if (s >= 0) total += cleanCount(b, s, m.end(2), null)
    }
    total
  }

  /** One block: update counts, append cleaned text when kept. */
  private final class Acc(minWords: Int, maxLinkPct: Int) {
    var nBlocks = 0
    var nKept = 0
    val main = new java.lang.StringBuilder()
    private val scratch = new java.lang.StringBuilder()

    def block(region: String, from: Int, until: Int): Unit = {
      scratch.setLength(0)
      val w = cleanCount(region, from, until, scratch)
      if (w > 0) nBlocks += 1
      if (w >= minWords &&
          anchorWords(region.substring(from, until)) * 100 <=
            w * maxLinkPct) {
        nKept += 1
        if (main.length > 0) main.append(' ')
        main.append(scratch)
      }
    }

    /** Split a between-block-tags region further on literal \u0001
      * (the Column form's delimiter; a raw \u0001 in the input is a
      * boundary there too).
      */
    def region(s: String, from: Int, until: Int): Unit = {
      var start = from
      var i = from
      while (i < until) {
        if (s.charAt(i) == '\u0001') { block(s, start, i); start = i + 1 }
        i += 1
      }
      block(s, start, until)
    }
  }

  def mainStats(html: UTF8String, minWords: Int,
                maxLinkPct: Int): InternalRow = {
    val s0 = html.toString
    val s = commentP.matcher(
      styleP.matcher(
        scriptP.matcher(s0).replaceAll(" ")).replaceAll(" "))
      .replaceAll(" ")
    val acc = new Acc(minWords, maxLinkPct)
    val m = blockTagP.matcher(s)
    var start = 0
    while (m.find()) {
      acc.region(s, start, m.start)
      start = m.end
    }
    acc.region(s, start, s.length)
    new GenericInternalRow(
      Array[Any](UTF8String.fromString(acc.main.toString),
        acc.nBlocks, acc.nKept))
  }
}
