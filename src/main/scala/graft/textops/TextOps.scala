package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over a `documents`
  * table `(doc_id, text, lang, source, n_chars)`.
  *
  * All operators are pure Column expression builders: they stay inside
  * whole-stage codegen, never block predicate pushdown, and scale linearly
  * with no shuffle (per-row narrow transforms) — at 100 TB each is a single
  * scan + project.
  */
object TextOps {

  /** Whitespace tokenization. split on \s+ then drop empty strings that a
    * leading/trailing separator would produce — keeps Spark and SQL oracles
    * in agreement on boundary behavior.
    */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Unicode-block character class of the NO-SPACE scripts
    * [[segmentScripts]] pads: Hiragana/Katakana (U+3040–30FF), the Han
    * ideograph blocks (Ext A, Unified, Compat, plus the supplementary
    * Ext B and Compat Supplement planes — matched as code points, so
    * surrogate pairs never split), and the Southeast-Asian no-space
    * scripts Thai, Lao, Myanmar, Khmer. Hangul is deliberately
    * ABSENT — Korean text carries inter-word spaces, so whitespace
    * tokenization is already the right granularity there.
    */
  private[graft] val noSpaceScriptClass: String =
    "[\\u3040-\\u30FF" +     // Hiragana + Katakana
      "\\u3400-\\u4DBF" +    // CJK Ext A
      "\\u4E00-\\u9FFF" +    // CJK Unified Ideographs
      "\\uF900-\\uFAFF" +    // CJK Compat Ideographs
      "\\u0E00-\\u0E7F" +    // Thai
      "\\u0E80-\\u0EFF" +    // Lao
      "\\u1000-\\u109F" +    // Myanmar
      "\\u1780-\\u17FF" +    // Khmer
      "\\x{20000}-\\x{2A6DF}" +  // CJK Ext B
      "\\x{2F800}-\\x{2FA1F}]"   // CJK Compat Supplement

  /** The Han/kana half of [[noSpaceScriptClass]] — padded PER CODE
    * POINT (the public C4/mC4/BERT one-ideograph-one-token
    * convention; these scripts carry no combining dependent signs in
    * running text).
    */
  private[graft] val cjkPadClass: String =
    "[\\u3040-\\u30FF\\u3400-\\u4DBF\\u4E00-\\u9FFF\\uF900-\\uFAFF" +
      "\\x{20000}-\\x{2A6DF}\\x{2F800}-\\x{2FA1F}]"

  /** The Southeast-Asian no-space blocks (Thai, Lao, Myanmar, Khmer)
    * — padded as GRAPHEME CLUSTERS, not code points: these scripts
    * write dependent vowels/tones as combining signs, and splitting a
    * sign from its base inflates token counts ~2× (skewing quality
    * gates and mixture shares) while emitting tokens no reader of the
    * script would call characters.
    */
  private[graft] val seaBaseClass: String =
    "[\\u0E00-\\u0E7F\\u0E80-\\u0EFF\\u1000-\\u109F\\u1780-\\u17FF]"

  /** The dependent-sign subset of the four SEA blocks — the code
    * points a grapheme cluster ATTACHES to its base (Unicode Mn + Mc
    * dependent vowels, tones, medials, viramas/coeng). EXPLICIT
    * ranges, not `\p{M}` or `\X`: script-property/grapheme classes
    * drift across the two engines' Unicode table versions (and RE2
    * has no `\X` at all); pinned ranges cannot drift. Thai U+0E31,
    * 0E34–0E3A, 0E47–0E4E; Lao U+0EB1, 0EB4–0EBC, 0EC8–0ECD; Myanmar
    * U+102B–103E (dependent vowels, medials, asat, anusvara, virama);
    * Khmer U+17B4–17D3 + 17DD (dependent vowels, coeng, signs).
    */
  private[graft] val seaMarkClass: String =
    "[\\u0E31\\u0E34-\\u0E3A\\u0E47-\\u0E4E" +
      "\\u0EB1\\u0EB4-\\u0EBC\\u0EC8-\\u0ECD" +
      "\\u102B-\\u103E\\u17B4-\\u17D3\\u17DD]"

  /** Script-aware pre-segmentation for NO-SPACE scripts, so downstream
    * whitespace tokenization — [[tokens]], the fused [[gateStats]]
    * kernel, shingles/MinHash, the BPE pre-split, lm_score/DSIR
    * n-grams — sees real character units instead of collapsing a
    * whole CJK document to ~one "token" (which silently degrades every
    * quality gate, dedup shingle and LM score a multilingual crawl
    * feeds). Two granularities in ONE alternation pass:
    *
    *   - Han/kana ([[cjkPadClass]]): one token per CODE POINT — the
    *     public C4/mC4/BERT convention;
    *   - Thai/Lao/Myanmar/Khmer ([[seaBaseClass]]): one token per
    *     GRAPHEME CLUSTER — a base plus its trailing dependent signs
    *     ([[seaMarkClass]]), so combining vowels/tones never sever
    *     from their consonant (round 11 split per code point, which
    *     inflated SEA token counts ~2×). An orphan leading sign (no
    *     base) starts its own cluster and absorbs any signs after it
    *     — degenerate input, deterministic either way.
    *
    * Hangul is deliberately NOT padded — Korean carries inter-word
    * spaces, so whitespace tokenization is already right there.
    *
    * Deliberately a TEXT→TEXT Column transform, not a tokenizer
    * variant: it composes with every existing token-level operator
    * (`minhashLsh(df.withColumn("text", segmentScripts($"text")), …)`)
    * with zero signature churn, stays inside whole-stage codegen (one
    * regexp pass), and a DuckDB oracle replays it as the identical
    * regexp_replace (both engines use leftmost-first alternation and
    * the same explicit ranges, so the match structure is identical by
    * construction). Latin/space-script text passes through unchanged
    * except where the padded blocks appear.
    */
  def segmentScripts(text: Column): Column =
    regexp_replace(text,
      s"($cjkPadClass|$seaBaseClass$seaMarkClass*)", " $1 ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = gateStats(text).getField("n_tokens")

  /** Column-form twin of [[tokenCount]], kept for the kernel-equivalence
    * spec.
    */
  private[graft] def tokenCountViaSplit(text: Column): Column =
    size(tokens(text))

  /** REAL BPE token count under the fixed merge table
    * ([[graft.functions.BpeVocab]]): sum over whitespace words of the
    * word's symbol count after SentencePiece-style merges. One
    * codegen'd scan-stage pass with a process-wide word→count memo —
    * the unit every `_bpe` budget variant (seq_pack_bpe,
    * sample_mixture_bpe, …) meters in.
    */
  def bpeTokenCount(text: Column): Column =
    graft.functions.BpeCountExpr(text)

  /** [[bpeTokenCount]] under an EXTERNAL merge table (e.g. loaded from
    * a real tokenizer's `merges.txt` via
    * [[graft.functions.BpeVocab.fromFile]]) — pass the result as the
    * `counter` of any `_bpe` budget operator to meter packs/mixtures in
    * the model's actual subword units.
    */
  def bpeTokenCount(text: Column, merges: Seq[(String, String)]): Column =
    graft.functions.BpeCountExpr(text, merges)

  /** BPE-ish subword count: word pieces + digits + punctuation runs, the
    * usual pre-tokenizer regex family (public GPT-2 style pre-tokenizer,
    * simplified to an ASCII-safe form both Spark and DuckDB agree on).
    */
  def bpeishCount(text: Column): Column =
    size(filter(split(text, "[^A-Za-z0-9]+"), t => t =!= "")) +
      length(regexp_replace(text, "[A-Za-z0-9\\s]", ""))

  /** Ratio of punctuation characters to total characters. */
  def punctRatio(text: Column): Column = {
    val ts = gateStats(text)
    when(ts.getField("n_chars") === 0, 0.0).otherwise(
      ts.getField("n_punct").cast("double") /
        ts.getField("n_chars").cast("double"))
  }

  /** Column-form twin of [[punctRatio]], kept for the kernel-equivalence
    * spec.
    */
  private[graft] def punctRatioViaRegex(text: Column): Column =
    when(length(text) === 0, 0.0).otherwise(
      length(regexp_replace(text, "[^!-/:-@\\[-`{-~]", "")).cast("double") /
        length(text).cast("double"))

  /** Small multilingual stopword inventory used by both the quality score
    * and the language-ID heuristic. Word lists are public common-word sets.
    */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for", "with", "was"),
    "de" -> Seq("der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "zu"),
    "fr" -> Seq("le", "la", "les", "et", "de", "est", "pour", "que", "dans", "un"),
    "es" -> Seq("el", "la", "los", "y", "de", "es", "para", "que", "en", "un"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "这", "他"))

  /** Union stopword inventory, the dictionary the fused gate kernel
    * carries.
    */
  private[graft] val unionStopwords: Seq[String] =
    stopwords.values.flatten.toSeq.distinct

  /** Fused one-pass counts backing the token/punct/stopword/quality
    * family: struct `(n_tokens, n_chars, n_punct, n_stop)` from ONE
    * codegen'd byte-scan ([[graft.functions.TextGateStatsExpr]]) instead
    * of the two `split` passes, two `regexp_replace` passes and the
    * whole-string `lower` the Column forms pay per document. The derived
    * columns below are field extractions; repeated uses inside one
    * projection collapse to a single scan via codegen subexpression
    * elimination (the expression is deterministic and parameter-pinned).
    * Counts are bit-identical to the Column forms (equivalence-tested in
    * TextGateKernelSpec), so every DuckDB oracle replays unchanged.
    */
  def gateStats(text: Column): Column =
    graft.functions.TextGateStatsExpr(text, unionStopwords)

  /** Count of distinct tokens of `text` that appear in `words`. Distinct on
    * the document side so repeated filler doesn't dominate.
    */
  def markerHits(text: Column, words: Seq[String]): Column = {
    val dict = array(words.map(lit): _*)
    size(filter(array_distinct(tokens(lower(text))),
      t => array_contains(dict, t)))
  }

  /** Stopword ratio against the union inventory (all languages). */
  def stopwordRatio(text: Column): Column = {
    val ts = gateStats(text)
    when(ts.getField("n_tokens") === 0, 0.0).otherwise(
      ts.getField("n_stop").cast("double") /
        ts.getField("n_tokens").cast("double"))
  }

  /** Column-form twin of [[stopwordRatio]], kept for the
    * kernel-equivalence spec.
    */
  private[graft] def stopwordRatioViaSplit(text: Column): Column = {
    val dict = array(unionStopwords.map(lit): _*)
    val toks = tokens(lower(text))
    when(size(toks) === 0, 0.0).otherwise(
      size(filter(toks, t => array_contains(dict, t))).cast("double") /
        size(toks).cast("double"))
  }

  /** N-gram/stopword language-ID heuristic: argmax of marker-word hits with
    * deterministic alphabetical tiebreak; "und" (undetermined) when no
    * marker hits at all.
    */
  def langId(text: Column): Column =
    graft.functions.LangIdExpr(text, stopwords.toSeq.sortBy(_._1))

  /** The original per-language Column form of [[langId]], kept as the
    * kernel-equivalence twin (LangIdKernelSpec pins bit-equality): it
    * recomputed tokenize+lower+distinct once per LANGUAGE in
    * interpreted HOF lambdas — the kernel fuses all languages into one
    * tokenization pass.
    */
  private[graft] def langIdViaColumns(text: Column): Column = {
    val scored = stopwords.toSeq.sortBy(_._1).map { case (langCode, words) =>
      struct(markerHits(text, words).as("hits"), lit(langCode).as("lang"))
    }
    // array_max on structs = lexicographic (hits, lang); ties on hits pick
    // the LAST lang alphabetically — mirror that exact rule in the oracle.
    val best = array_max(array(scored: _*))
    when(best.getField("hits") === 0, "und").otherwise(best.getField("lang"))
  }

  /** Deterministic quality score in [0,1]: length band + punctuation
    * penalty + stopword signal, the standard cheap-heuristic family used in
    * public corpus-filtering pipelines (e.g. C4/Gopher rules), reduced to
    * components both engines compute identically.
    */
  def qualityScore(text: Column): Column = qualityScoreFrom(gateStats(text))

  /** [[qualityScore]] over an already-computed [[gateStats]] struct —
    * lets a caller that also needs `n_tokens` (the corpus-clean scan)
    * share the single kernel pass explicitly. The double arithmetic is
    * shape-identical to the original Column form (same operation order,
    * same `when` guards), so rounded values — and the DuckDB oracles —
    * are unchanged.
    */
  def qualityScoreFrom(ts: Column): Column = {
    val nTok = ts.getField("n_tokens").cast("double")
    val punctR = when(ts.getField("n_chars") === 0, 0.0).otherwise(
      ts.getField("n_punct").cast("double") /
        ts.getField("n_chars").cast("double"))
    val stopR = when(ts.getField("n_tokens") === 0, 0.0).otherwise(
      ts.getField("n_stop").cast("double") /
        ts.getField("n_tokens").cast("double"))
    val lenScore = least(nTok / 50.0, lit(1.0))             // saturates at 50 tokens
    val punctPen = least(punctR * 5.0, lit(1.0))            // >20% punct = max penalty
    val stopScore = least(stopR * 4.0, lit(1.0))
    round(greatest(lit(0.0),
      lenScore * 0.4 + stopScore * 0.4 + (lit(1.0) - punctPen) * 0.2), 6)
  }

  /** Column-form twin of [[qualityScore]], kept for the
    * kernel-equivalence spec.
    */
  private[graft] def qualityScoreViaColumns(text: Column): Column = {
    val nTok = tokenCountViaSplit(text).cast("double")
    val lenScore = least(nTok / 50.0, lit(1.0))
    val punctPen = least(punctRatioViaRegex(text) * 5.0, lit(1.0))
    val stopScore = least(stopwordRatioViaSplit(text) * 4.0, lit(1.0))
    round(greatest(lit(0.0),
      lenScore * 0.4 + stopScore * 0.4 + (lit(1.0) - punctPen) * 0.2), 6)
  }

  /** Content fingerprint: md5 of whitespace-normalized lowercased text.
    * Stable across engines (md5 is md5 everywhere), which is exactly what a
    * cross-system dedup key needs.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Winnowing fingerprints (the MOSS local-fingerprinting algorithm):
    * hash every character k-gram, then keep the minimum hash of each
    * sliding window of w consecutive k-grams, deduplicated. Any two
    * documents sharing a sufficiently long substring share a fingerprint;
    * robust to insertions/reordering in a way whole-document digests are
    * not. Hashes are the top 60 bits of md5, so the DuckDB oracle
    * reproduces the exact fingerprint set (same portability trick as
    * MinHash/SimHash).
    *
    * Per-row narrow compute, O(chars × w) — no shuffle; the downstream
    * dedup join on exploded fingerprints is the same inverted-index shape
    * as the shingle joins.
    */
  /** Output: distinct `(idCol, fp)` rows.
    *
    * One codegen'd kernel ([[graft.functions.WinnowFpsExpr]]) computes
    * each document's deduplicated fingerprint set inside the scan
    * stage, and only the final fingerprints are exploded. The
    * relational twin below ([[winnowingViaWindow]]) is the
    * equivalence-tested spec — and the measured reason it is not the
    * implementation: it explodes every k-gram (O(chars) rows per doc,
    * ~20× the fingerprint count) through a (doc)-keyed Window exchange
    * plus a global DISTINCT exchange, two data-sized shuffles this
    * form never pays (10.0s → 3.1s for the zsf1 winnow+materialize
    * stage; a per-doc quantity should never have needed a shuffle).
    *
    * Null texts are filtered (the relational form drops them via its
    * null-propagating position filter); non-null texts always yield at
    * least one fingerprint, so `explode_outer` — which skips Catalyst's
    * inferred `size(arr) > 0` pre-filter, a trap that would re-run the
    * whole md5 kernel once per row just to test non-emptiness — emits
    * exactly the fingerprint rows.
    */
  def winnowing(df: DataFrame, idCol: String, textCol: String,
                k: Int = 8, w: Int = 4): DataFrame = {
    val src = graft.util.Par.spread(df).filter(col(textCol).isNotNull)
    src.select(col(idCol),
      explode_outer(graft.functions.WinnowFpsExpr(col(textCol), k, w))
        .as("fp"))
  }

  /** The relational formulation [[winnowing]] is equivalence-tested
    * against (TextOpsSpec): posexplode the k-gram hashes, running-min
    * Window over positions, DISTINCT. No registered row calls it; it is
    * kept as the executable spec of the window
    * semantics (full windows only; short texts truncate to one whole-
    * array window). The window-minimum step is RELATIONAL, not a nested
    * array lambda: Catalyst's filter-inference + pushdown will happily
    * substitute a projected array alias INTO a lambda body,
    * re-evaluating the k-gram hashing once per window — an
    * O(chars × windows) interpreted-md5 blowup (measured: minutes per
    * partition).
    */
  def winnowingViaWindow(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, w: Int = 4): DataFrame = {
    val text = col(textCol)
    // one codegen'd pass over the text (KgramHashesExpr); the HOF twin
    // below ([[kgramHashesExpanded]]) is the equivalence-tested spec
    val kgramHashes = graft.functions.KgramHashesExpr(text, k)
    // The hashing happens in the stage that reads the input, so spread a
    // small single-split source across cores first (no-op at scale).
    //
    // Two cost traps avoided here, both measured:
    //  - the k-gram count rides along as size(_kh) BEFORE the explode, so
    //    no second (unordered count) window pass over the exploded rows;
    //  - posexplode_OUTER, because a plain explode makes Catalyst infer a
    //    `size(arr) > 0` filter and push it below the projection,
    //    re-evaluating the entire md5 transform once per row just to test
    //    non-emptiness (the array is never empty by construction —
    //    greatest(..., 1) above).
    val src = graft.util.Par.spread(df)
    val hashed = src.select(col(idCol), kgramHashes.as("_kh"))
    val exploded = hashed.select(col(idCol), size(col("_kh")).as("_n"),
      posexplode_outer(col("_kh")).as(Seq("_pos", "_h")))
    val winMin = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("_pos")).rowsBetween(0, w - 1)
    exploded
      .withColumn("_fp", min(col("_h")).over(winMin))
      .filter(col("_pos") <= greatest(col("_n") - w, lit(0)))
      .select(col(idCol), col("_fp").as("fp"))
      .distinct()
  }

  /** Word shingles of size n: distinct, first-occurrence order, one
    * codegen'd pass ([[graft.functions.WordShinglesExpr]]). The HOF twin
    * [[shinglesFromTokensExpanded]] is the equivalence-tested spec.
    */
  def shinglesFromTokens(toks: Column, n: Int): Column =
    graft.functions.WordShinglesExpr(toks, n)

  /** The Column-expression spec [[shinglesFromTokens]] is tested against
    * (BatchKernelSpec, KernelPropertiesSpec); no registered row calls it.
    *
    * The token expression must be a real column, not an inline expression:
    * Catalyst does no common-subexpression elimination inside
    * higher-order-function lambdas, so an inline `split(...)` would be
    * re-evaluated for every shingle offset — O(tokens²) per document
    * (measured 6s vs ~0.3s on 5k docs). A bound column reference is read
    * once per row.
    */
  def shinglesFromTokensExpanded(toks: Column, n: Int): Column =
    array_distinct(
      when(size(toks) < n, array(array_join(toks, " ")))
        .otherwise(transform(
          sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + 1, lit(n)), " "))))

  /** HOF twin of [[graft.functions.KgramHashesExpr]] (equivalence spec). */
  def kgramHashesExpanded(text: Column, k: Int): Column =
    transform(
      sequence(lit(1), greatest(length(text) - k + 1, lit(1))),
      i => conv(substring(md5(text.substr(i, lit(k))), 1, 15), 16, 10)
        .cast("long"))

  /** Convenience one-expression form — ONLY for tiny inputs/tests; real
    * pipelines must materialize tokens first (see shinglesFromTokens).
    * No row calls it; TextOpsSpec "shingles: fewer tokens than n
    * collapses to one joined shingle" pins shinglesFromTokens's
    * short-doc convention through it.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesFromTokens(tokens(lower(text)), n)

  /** Duplicate-n-gram fraction: 1 − distinct/total n-gram occurrences,
    * 0.0 for token-less docs. Follows the [[shinglesFromTokens]] edge
    * convention (a doc shorter than n is one whole-doc shingle → 0.0).
    */
  private def dupFrac(toks: Column, n: Int): Column = {
    val total = greatest(size(toks) - (n - 1), lit(1))
    val distinctN =
      if (n == 1) size(array_distinct(toks))
      else size(shinglesFromTokens(toks, n))
    round(when(size(toks) === 0, 0.0)
      .otherwise(lit(1.0) - distinctN.cast("double") / total.cast("double")), 6)
  }

  /** Repetition signals (the Gopher/C4 quality-filter family): duplicate
    * token/2-gram/3-gram fractions plus top-token coverage. Boilerplate,
    * templated spam, and decode loops all light these up while looking
    * fine to length/punctuation filters.
    *
    * Scale shape: the dup fractions are narrow per-row array expressions
    * (distinct counts come from the codegen'd shingle kernel); top-token
    * coverage is the classic word-count pattern — explode → two
    * MAP-SIDE-COMBINABLE aggregates keyed on (doc, token) then doc — so
    * both shuffles move counts, never token lists. One narrow frame,
    * one agg frame, one join by doc id.
    */
  def repStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toksed = df.select(col(idCol),
      tokens(lower(col(textCol))).as("_toks"))
    val narrow = toksed.select(col(idCol),
      size(col("_toks")).as("n_tokens"),
      dupFrac(col("_toks"), 1).as("dup_tok_frac"),
      dupFrac(col("_toks"), 2).as("dup_2gram_frac"),
      dupFrac(col("_toks"), 3).as("dup_3gram_frac"))
    val top = toksed
      .select(col(idCol), explode(col("_toks")).as("_tok"))
      .groupBy(col(idCol), col("_tok")).agg(count(lit(1)).as("_c"))
      .groupBy(col(idCol)).agg(max(col("_c")).as("_maxc"))
    narrow.join(top, Seq(idCol), "left")
      .withColumn("top_tok_frac", when(col("n_tokens") === 0, 0.0)
        .otherwise(round(col("_maxc").cast("double") /
          col("n_tokens").cast("double"), 6)))
      .drop("_maxc")
  }

  /** Gopher/C4-family composite KEEP decision: the named rule set a
    * corpus-filtering pipeline actually gates on, evaluated from ONE
    * [[gateStats]] kernel pass (common-subexpression elimination
    * collapses the repeated struct uses to a single scan — the same
    * property `quality_score` relies on). Emits the decision AND the
    * failed-rule list, because a production filter that only says
    * "dropped" is undebuggable: rule-level drop rates are the first
    * thing a corpus datasheet reports.
    *
    * All thresholds compare double ratios built from the SAME integer
    * operands in declaration order, so both engines evaluate the
    * boundary cases identically (IEEE division of equal integers is
    * exact-equal — no rounding epsilon needed on a rule decision).
    *
    * Output: (id, n_tokens, keep, reasons) — `reasons` is the
    * comma-joined failed rules in declaration order, '' when kept.
    */
  def qualityFilter(df: DataFrame, idCol: String, textCol: String,
                    minTokens: Int = 20, maxTokens: Int = 100000,
                    minCharsPerTok: Double = 2.0,
                    maxCharsPerTok: Double = 12.0,
                    minStopRatio: Double = 0.02,
                    maxPunctRatio: Double = 0.2): DataFrame = {
    val ts = gateStats(col(textCol))
    val base = df.select(col(idCol),
      ts.getField("n_tokens").cast("long").as("n_tokens"),
      ts.getField("n_chars").cast("double").as("_nc"),
      ts.getField("n_punct").cast("double").as("_np"),
      ts.getField("n_stop").cast("double").as("_ns"))
    val nTok = col("n_tokens").cast("double")
    val cpt = when(col("n_tokens") === 0, 0.0).otherwise(col("_nc") / nTok)
    val punct = when(col("_nc") === 0.0, 0.0).otherwise(col("_np") / col("_nc"))
    val stopr = when(col("n_tokens") === 0, 0.0).otherwise(col("_ns") / nTok)
    val rules: Seq[(String, Column)] = Seq(
      "min_len" -> (col("n_tokens") >= minTokens),
      "max_len" -> (col("n_tokens") <= maxTokens),
      "word_len" -> (cpt >= minCharsPerTok && cpt <= maxCharsPerTok),
      "stopword" -> (stopr >= minStopRatio),
      "punct" -> (punct <= maxPunctRatio))
    val keep = rules.map(_._2).reduce(_ && _)
    // when() with no otherwise is NULL on pass; concat_ws skips NULLs
    // (both engines), so the failed list needs no array machinery
    val reasons = concat_ws(",",
      rules.map { case (n, c) => when(!c, n) }: _*)
    base.select(col(idCol), col("n_tokens"), keep.as("keep"),
      reasons.as("reasons"))
  }
}
