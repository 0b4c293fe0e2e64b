package graft
package registry

import graft.sources.Tables
import graft.textops.TextOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._
import Stores._

/** Text analysis (north star): per-doc statistics, language ID,
  * quality and repetition signals, domain gating, URL canonicalization,
  * n-gram statistics, BM25 search, novelty and LM scores, fingerprints,
  * and the REAL-tokenizer (BPE) budget family. The `sql_*` rows are the
  * SQL front door of their DataFrame twins and share their oracles.
  */
private[graft] object TextRows {

  /** Hex→Thai map for the planted-SEA fixture: digits 0–9 → consonants
    * (grapheme-cluster BASES), a–f → combining dependent signs (SARA A,
    * SARA I, SARA II, MAI EK, MAI THO, MAI TRI — all in
    * [[graft.textops.TextOps.seaMarkClass]]), so a translated md5
    * string is a deterministic mix of bases and attaching marks.
    */
  private val seaThai16 =
    "กขคงจฉชซดต" +
      "ัิี่้๊"

  /** The planted-Thai fixture behind `text_stats_sea`: docs in md5
    * bucket < 30 have their text swapped for the 32-char translate of
    * their own md5 under [[seaThai16]] — ~3/8 of the chars are
    * combining signs, so per-CODE-POINT segmentation (round 11's rule)
    * would count ~32 tokens while grapheme-cluster segmentation counts
    * only the bases (plus orphan leading-sign runs). Everything
    * derives from md5(doc_id); the oracle replays it exactly.
    */
  private def seaFixture(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(graft.util.Sampling.md5Bucket(col("doc_id")) < 30,
        translate(md5(col("doc_id").cast("string")),
          "0123456789abcdef", seaThai16))
        .otherwise(col("text")).as("text"))

  /** DuckDB twin of [[seaFixture]]; ends in `sea(doc_id, text)`. No
    * leading WITH.
    */
  private val seaFixtureCtes: String =
    s"""seab AS (SELECT doc_id, text,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         sea AS (SELECT doc_id,
           CASE WHEN bucket < 30 THEN
             translate(md5(doc_id::VARCHAR),
               '0123456789abcdef', '$seaThai16')
           ELSE text END AS text FROM seab)"""

  /** BPE token-count CTE chain, ending in `bcounts(doc_id, n_bpe)` —
    * shared by every `_bpe` budget oracle. The merge table is
    * interpolated from [[graft.functions.BpeVocab.merges]] (the same
    * fixture the Spark kernel carries, so the two sides cannot drift),
    * and the recursive CTE replays the kernel's exact SentencePiece
    * segmentation rule: merge the LEFTMOST occurrence of the
    * lowest-rank adjacent pair until no pair is in the table. Words are
    * encoded once each (DISTINCT), vocabulary-scale work, then joined
    * back to (doc, word) occurrences. Queries using this chain must
    * open with `WITH RECURSIVE`.
    */
  private lazy val duckBpeCtes: String =
    duckBpeCtesFor(graft.functions.BpeVocab.merges)

  private def duckBpeCtesFor(merges: Seq[(String, String)],
                             textExpr: String = "text",
                             byteLevel: Boolean = false): String = {
    val values = merges.zipWithIndex
      .map { case ((l, r), i) =>
        s"('${l.replace("'", "''")}','${r.replace("'", "''")}',$i)" }
      .mkString(", ")
    // byte-level seed: the word's UTF-8 bytes through the literal
    // byteToUnicode map (b2u, 1-indexed) — bytes extracted via the
    // uppercase hex fold, the engine-portable byte accessor
    val bseed =
      if (!byteLevel)
        """bseed AS (SELECT w, list_transform(generate_series(1, length(w)),
             i -> substr(w, i, 1)) AS syms FROM bw),"""
      else {
        val cps = graft.functions.BpeVocab.byteToUnicode.mkString(", ")
        s"""bmap AS (SELECT list_transform([$cps], c -> chr(c)) AS b2u),
         bseed AS (SELECT w, list_transform(
             generate_series(1, octet_length(encode(w))),
             i -> b2u[(strpos('0123456789ABCDEF',
                        substr(hex(encode(w)), 2*i-1, 1)) - 1) * 16
                      + strpos('0123456789ABCDEF',
                        substr(hex(encode(w)), 2*i, 1))]) AS syms
           FROM bw, bmap),"""
      }
    s"""bmerges(l, r, rank) AS (VALUES $values),
         brk AS (SELECT map(list(l || chr(1) || r ORDER BY rank),
                            list(rank ORDER BY rank)) AS m FROM bmerges),
         btok AS (SELECT doc_id,
           list_filter(string_split_regex($textExpr, '\\s+'), x -> x <> '') AS toks
           FROM documents),
         bw AS (SELECT DISTINCT unnest(toks) AS w FROM btok),
         $bseed
         benc AS (
           SELECT w, syms FROM bseed
           UNION ALL
           SELECT w, syms[1:bi-1] || [syms[bi] || syms[bi+1]] || syms[bi+2:] AS syms
           FROM (SELECT w, syms,
                   CASE WHEN list_min(rks) < 2147483647
                        THEN list_position(rks, list_min(rks)) END AS bi
                 FROM (SELECT w, syms,
                         list_transform(generate_series(1, len(syms) - 1),
                           i -> coalesce(map_extract(m, syms[i] || chr(1) || syms[i+1])[1],
                                         2147483647)) AS rks
                       FROM benc, brk))
           WHERE bi IS NOT NULL),
         bwc AS (SELECT w, min(len(syms))::BIGINT AS wtok FROM benc GROUP BY w),
         bflat AS (SELECT doc_id, unnest(toks) AS w FROM btok),
         bcounts AS (SELECT t.doc_id, COALESCE(s.n_bpe, 0)::BIGINT AS n_bpe
           FROM btok t LEFT JOIN (SELECT doc_id, sum(wtok) AS n_bpe
             FROM bflat JOIN bwc USING (w) GROUP BY doc_id) s USING (doc_id))"""
  }

  /** BM25 probe queries (terms drawn from the synthetic corpus
    * vocabulary so every query has matching docs); shared verbatim by
    * the registered query and its oracle's VALUES list. */
  private val BmQueries = Seq(
    "q1" -> "hash join merge",
    "q2" -> "window agg stream",
    "q3" -> "customer order line")

  /** DuckDB twin of the corpus datasheet — shared by `corpus_profile`
    * and its SQL-front-door twin. quantile_cont mirrors Spark's exact
    * interpolating percentile (q_quantile precedent); counts/sums are
    * integral so the casts are lossless.
    */
  private lazy val duckCorpusProfileOracle: String =
    s"""WITH b AS (SELECT source, lang, $duckQualityParts FROM documents),
       s AS (SELECT source, lang, n_tok,
             $duckQualityFromParts AS quality FROM b)
       SELECT source, count(*) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         $duckMeanQualityMicro,
         round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
         round(quantile_cont(n_tok, 0.9), 6) AS p90_tokens,
         count(DISTINCT lang) AS n_langs
       FROM s GROUP BY source"""

  /** DuckDB twin of the language-ID heuristic — shared by `lang_id`
    * and its SQL-front-door twin.
    */
  /** The (hits, lang) struct list behind every langId oracle,
    * parameterized on the text expression so the segmented twin
    * replays the identical argmax over padded text.
    */
  private def duckLangPacks(textExpr: String): String =
    TextOps.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
      s"struct_pack(h := len(list_filter(list_distinct(string_split_regex(lower($textExpr), '\\s+')), x -> list_contains($list, x))), l := '$lang')"
    }.mkString("[", ", ", "]")

  private lazy val duckLangIdOracle: String =
    s"""SELECT doc_id, lang,
       CASE WHEN best.h = 0 THEN 'und' ELSE best.l END AS lang_pred
       FROM (SELECT doc_id, lang,
         list_sort(${duckLangPacks("text")})[-1] AS best FROM documents)"""

  /** DuckDB twin of the quality score — shared by `quality_score` and
    * its SQL-front-door twin.
    */
  private lazy val duckQualityScoreOracle: String =
    s"""WITH b AS (SELECT doc_id, $duckQualityParts FROM documents)
       SELECT doc_id, $duckQualityFromParts AS quality FROM b"""

  private lazy val duckTextStatsOracle: String = {
    val stops = TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")
    s"""SELECT doc_id, length(text) AS n_chars_computed,
       len(list_filter(string_split_regex(text, '\\s+'), x -> x <> '')) AS n_tokens,
       len(list_filter(string_split_regex(text, '[^A-Za-z0-9]+'), x -> x <> ''))
         + length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_subword_tokens,
       round(CASE WHEN length(text) = 0 THEN 0.0 ELSE
         length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
         / length(text)::DOUBLE END, 6) AS punct_ratio,
       round(CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) = 0 THEN 0.0 ELSE
         len(list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '' AND list_contains($stops, x)))::DOUBLE
         / len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))::DOUBLE END, 6) AS stopword_ratio
       FROM documents"""
  }

  /** Fixed-point group mean of the 6dp quality score in pure integer
    * arithmetic — the SQL twin of Vocab.microMean (floor((2S+n)/2n) on
    * non-negative operands = round-half-up of S/n; the final /1e6 is
    * the identical IEEE op on both engines). Shared by every
    * mean_quality oracle so the datasheet rows cannot hit the decimal
    * rounding boundaries round(avg(q), 6) lands on.
    */
  private val duckMeanQualityMicro: String =
    "((2 * sum(CAST(round(quality * 1000000) AS BIGINT)) + count(*)) " +
      "// (2 * count(*)))::DOUBLE / 1000000.0 AS mean_quality"

  lazy val rows: Seq[Row] = Seq(
    Row("sql_text_stats", (s, dir) => {
      // SQL front door for the text pipeline: the fused gate kernel is
      // registered as text_gate_stats(...) (GraftFunctions), so a
      // SQL-only user computes the same codegen'd one-pass stats the
      // Column API gets — no UDF, no second tokenization pass.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""SELECT doc_id, length(text) AS n_chars_computed,
                      gs.n_tokens AS n_tokens,
                      size(filter(split(text, '[^A-Za-z0-9]+'), x -> x != ''))
                        + length(regexp_replace(text, '[A-Za-z0-9\\s]', '')) AS n_subword_tokens,
                      round(CASE WHEN gs.n_chars = 0 THEN 0.0D
                            ELSE CAST(gs.n_punct AS DOUBLE) / CAST(gs.n_chars AS DOUBLE) END, 6) AS punct_ratio,
                      round(CASE WHEN gs.n_tokens = 0 THEN 0.0D
                            ELSE CAST(gs.n_stop AS DOUBLE) / CAST(gs.n_tokens AS DOUBLE) END, 6) AS stopword_ratio
               FROM (SELECT doc_id, text, text_gate_stats(text) AS gs FROM documents_v)""")
    },
      // the SQL-front-door rows make the IDENTICAL computation through
      // spark.sql + the registered graft functions — same oracles
      duckTextStatsOracle),

    Row("sql_lang_id", (s, dir) => {
      // SQL front door for language-ID: text_lang(...) is the composed
      // marker-hit argmax expression (same Column builder as the
      // DataFrame operator — cannot drift)
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("SELECT doc_id, lang, text_lang(text) AS lang_pred FROM documents_v")
    },
      duckLangIdOracle),

    Row("sql_quality_score", (s, dir) => {
      // SQL front door for the quality score — one registered function
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("SELECT doc_id, text_quality(text) AS quality FROM documents_v")
    },
      duckQualityScoreOracle),

    Row("sql_corpus_profile", (s, dir) => {
      // SQL front door for the corpus datasheet: text_quality(...) is
      // the COMPOSED scoring expression (built by the same Column
      // builder the engine uses), so the SQL form cannot drift from
      // the DataFrame operator's arithmetic. Same scale shape: one
      // scan + one stratum-keyed aggregate.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH g AS (SELECT source, lang, text_gate_stats(text) AS gs,
                      text_quality(text) AS q FROM documents_v),
               s AS (SELECT source, lang, CAST(gs.n_tokens AS DOUBLE) AS n_tok, q FROM g)
               SELECT source, count(*) AS n_docs,
                      CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                      -- fixed-point mean in exact integer micro-units
                      -- (the Vocab.microMean convention: round(avg)
                      -- lands on decimal boundaries the engines
                      -- round differently)
                      CAST((2 * sum(CAST(round(q * 1000000) AS BIGINT))
                            + count(*)) div (2 * count(*)) AS DOUBLE)
                        / 1000000.0 AS mean_quality,
                      round(percentile(n_tok, 0.5D), 6) AS p50_tokens,
                      round(percentile(n_tok, 0.9D), 6) AS p90_tokens,
                      count(DISTINCT lang) AS n_langs
               FROM s GROUP BY source""")
    },
      duckCorpusProfileOracle),

    Row("text_stats", (s, dir) => {
      val d = Tables.documents(s, dir)
      val t = col("text")
      d.select(col("doc_id"), length(t).as("n_chars_computed"),
        TextOps.tokenCount(t).as("n_tokens"),
        TextOps.bpeishCount(t).as("n_subword_tokens"),
        round(TextOps.punctRatio(t), 6).as("punct_ratio"),
        round(TextOps.stopwordRatio(t), 6).as("stopword_ratio"))
    },
      duckTextStatsOracle),

    Row("lang_id", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), col("lang"),
        TextOps.langId(col("text")).as("lang_pred"))
    },
      duckLangIdOracle),

    Row("text_stats_cjk", (s, dir) => {
      // the multilingual-twin of text_stats over the planted no-space
      // fixture: without segmentScripts a CJK doc collapses to ~ONE
      // whitespace token (n_tokens_ws ≈ 1 — the silent quality-gate
      // poison a multilingual crawl hits); with it, one token per
      // ideograph. Both counts surface side-by-side; stopword_ratio
      // runs on the segmented text through the same fused gate kernel
      val seg = TextOps.segmentScripts(col("text"))
      cjkFixture(Tables.documents(s, dir)).select(col("doc_id"),
        length(col("text")).as("n_chars_computed"),
        TextOps.tokenCount(col("text")).as("n_tokens_ws"),
        TextOps.tokenCount(seg).as("n_tokens_seg"),
        round(TextOps.stopwordRatio(seg), 6).as("stopword_ratio"))
    }, {
      val stops = TextOps.stopwords.values.flatten.toSeq.distinct
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH $cjkFixtureCtes,
         segd AS (SELECT doc_id, text,
           ${duckSegment("text")} AS seg FROM cjk),
         t AS (SELECT doc_id, length(text) AS n_chars_computed,
           len(list_filter(string_split_regex(text, '\\s+'),
             x -> x <> '')) AS n_tokens_ws,
           len(list_filter(string_split_regex(seg, '\\s+'),
             x -> x <> '')) AS n_tokens_seg,
           list_filter(string_split_regex(lower(seg), '\\s+'),
             x -> x <> '') AS wseg
           FROM segd)
         SELECT doc_id, n_chars_computed, n_tokens_ws, n_tokens_seg,
           round(CASE WHEN len(wseg) = 0 THEN 0.0 ELSE
             len(list_filter(wseg, x -> list_contains($stops, x)))::DOUBLE
             / len(wseg)::DOUBLE END, 6) AS stopword_ratio
         FROM t"""
    }),

    Row("text_stats_sea", (s, dir) => {
      // the grapheme-cluster pin for the SEA branch of segmentScripts:
      // planted Thai docs are ~3/8 combining signs, so n_tokens_seg
      // counts CLUSTERS (bases + orphan-sign runs), not code points —
      // round 11's per-code-point rule read ~32 here and inflated
      // every SEA quality gate ~2x. Unplanted (Latin) docs must pass
      // through with n_tokens_seg == n_tokens_ws
      val seg = TextOps.segmentScripts(col("text"))
      seaFixture(Tables.documents(s, dir)).select(col("doc_id"),
        length(col("text")).as("n_chars_computed"),
        TextOps.tokenCount(col("text")).as("n_tokens_ws"),
        TextOps.tokenCount(seg).as("n_tokens_seg"))
    },
      // the identical fixture + the identical cluster-segmentation
      // regexp (duckSegment), so n_tokens_seg counts clusters in both
      // engines by construction
      s"""WITH $seaFixtureCtes,
         segd AS (SELECT doc_id, text,
           ${duckSegment("text")} AS seg FROM sea)
         SELECT doc_id, length(text) AS n_chars_computed,
           len(list_filter(string_split_regex(text, '\\s+'),
             x -> x <> '')) AS n_tokens_ws,
           len(list_filter(string_split_regex(seg, '\\s+'),
             x -> x <> '')) AS n_tokens_seg
         FROM segd"""),

    Row("lang_id_cjk", (s, dir) => {
      // langId over the planted fixture: unsegmented, a no-space zh
      // doc has ZERO marker hits ('und'); segmented, its single-char
      // stopwords surface and zh wins — the same op, fed right
      val d = cjkFixture(Tables.documents(s, dir))
      d.select(col("doc_id"),
        TextOps.langId(col("text")).as("lang_pred_ws"),
        TextOps.langId(TextOps.segmentScripts(col("text")))
          .as("lang_pred"))
    },
      s"""WITH $cjkFixtureCtes,
         l0 AS (SELECT doc_id,
           list_sort(${duckLangPacks("text")})[-1] AS bw,
           list_sort(${duckLangPacks(duckSegment("text"))})[-1] AS bs
           FROM cjk)
         SELECT doc_id,
           CASE WHEN bw.h = 0 THEN 'und' ELSE bw.l END AS lang_pred_ws,
           CASE WHEN bs.h = 0 THEN 'und' ELSE bs.l END AS lang_pred
         FROM l0"""),

    Row("quality_score", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    },
      duckQualityScoreOracle),

    Row("rep_stats", (s, dir) =>
      // Gopher/C4-style repetition filters: duplicate n-gram fractions
      // (narrow) + top-token coverage (word-count-shaped agg)
      TextOps.repStats(Tables.documents(s, dir), "doc_id", "text"),
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         g2 AS (SELECT doc_id, count(DISTINCT s) AS d FROM (
             SELECT doc_id, CASE WHEN len(w) < 2 THEN array_to_string(w, ' ')
               ELSE w[i] || ' ' || w[i+1] END AS s
             FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - 1, 1))) AS i FROM toks))
           GROUP BY 1),
         g3 AS (SELECT doc_id, count(DISTINCT s) AS d FROM (
             SELECT doc_id, CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
               ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS s
             FROM (SELECT doc_id, w,
               unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks))
           GROUP BY 1),
         tc AS (SELECT doc_id, max(c) AS maxc FROM (
             SELECT doc_id, tok, count(*) AS c
             FROM (SELECT doc_id, unnest(w) AS tok FROM toks)
             GROUP BY 1, 2) GROUP BY 1)
         SELECT t.doc_id, len(w) AS n_tokens,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE 1.0 - len(list_distinct(w))::DOUBLE / len(w) END, 6) AS dup_tok_frac,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE 1.0 - g2.d::DOUBLE / greatest(len(w) - 1, 1) END, 6) AS dup_2gram_frac,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE 1.0 - g3.d::DOUBLE / greatest(len(w) - 2, 1) END, 6) AS dup_3gram_frac,
           round(CASE WHEN len(w) = 0 THEN 0.0
             ELSE tc.maxc::DOUBLE / len(w) END, 6) AS top_tok_frac
         FROM toks t
         LEFT JOIN g2 ON g2.doc_id = t.doc_id
         LEFT JOIN g3 ON g3.doc_id = t.doc_id
         LEFT JOIN tc ON tc.doc_id = t.doc_id"""),

    Row("quality_filter", (s, dir) =>
      // the composite KEEP decision those heuristics feed: named
      // Gopher/C4-family rules (length band, chars-per-token band,
      // stopword floor, punctuation ceiling) from ONE gate-stats
      // kernel pass, with the failed-rule list — the rule-level drop
      // rates a corpus datasheet reports. Boundary-exact in both
      // engines: every threshold compares an IEEE division of the
      // same integers
      TextOps.qualityFilter(Tables.documents(s, dir), "doc_id", "text"),
      // replays the rule set literally over the same integer stats;
      // CASE-without-ELSE is NULL on pass and concat_ws skips NULLs in
      // both engines, so the reasons column needs no list machinery
      s"""WITH b AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens,
           length(text)::DOUBLE AS nc,
           length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE AS np,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '' AND list_contains($duckStopList, x)))::DOUBLE AS ns
           FROM documents),
         r AS (SELECT doc_id, n_tokens,
           (n_tokens >= 20) AS r1,
           (n_tokens <= 100000) AS r2,
           (CASE WHEN n_tokens = 0 THEN 0.0 ELSE nc / n_tokens::DOUBLE END
              BETWEEN 2.0 AND 12.0) AS r3,
           (CASE WHEN n_tokens = 0 THEN 0.0 ELSE ns / n_tokens::DOUBLE END
              >= 0.02) AS r4,
           (CASE WHEN nc = 0.0 THEN 0.0 ELSE np / nc END <= 0.2) AS r5
           FROM b)
         SELECT doc_id, n_tokens,
           (r1 AND r2 AND r3 AND r4 AND r5) AS keep,
           concat_ws(',',
             CASE WHEN NOT r1 THEN 'min_len' END,
             CASE WHEN NOT r2 THEN 'max_len' END,
             CASE WHEN NOT r3 THEN 'word_len' END,
             CASE WHEN NOT r4 THEN 'stopword' END,
             CASE WHEN NOT r5 THEN 'punct' END) AS reasons
         FROM r"""),

    Row("domain_profile", (s, dir) => {
      // the domain-blocklist input signal: the per-source datasheet
      // re-keyed on the canonical-URL HOST (how a crawl pipeline
      // actually strata-keys quality before blocklisting domains) —
      // derives the domain through the full canonicalize chain, then
      // the SAME one-scan/one-agg profile as corpus_profile
      val d = Tables.documents(s, dir)
      val url = graft.textops.Url.urlFixture(col("doc_id"), col("source"))
      val host = regexp_extract(graft.textops.Url.canonicalize(url),
        "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
      graft.textops.Vocab.corpusProfile(
        d.withColumn("domain", host), "domain", "lang", "text")
    },
      // the canonical host of the fixture URL is lower(source) ||
      // '.example.com' by construction — the oracle derives it
      // directly and replays the corpus_profile arithmetic per domain
      s"""WITH b AS (SELECT lower(source) || '.example.com' AS domain,
             lang, $duckQualityParts FROM documents),
         s AS (SELECT domain, lang, n_tok,
             $duckQualityFromParts AS quality FROM b)
         SELECT domain, count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           $duckMeanQualityMicro,
           round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
           round(quantile_cont(n_tok, 0.9), 6) AS p90_tokens,
           count(DISTINCT lang) AS n_langs
         FROM s GROUP BY domain"""),

    Row("domain_filter", (s, dir) => {
      // DOMAIN-level gating — the decision the domain_profile
      // datasheet feeds (RefinedWeb/C4 domain rules): keep/drop every
      // doc by its canonical host's AGGREGATE mean quality and doc
      // volume. A spam domain is PLANTED in-query (md5 bucket < 10:
      // host swapped to spam-farm.example.com, text to punctuation
      // junk scoring ~0.05 — far under the 0.3 cut, while real
      // domains sit at ~0.55) so the gate verifies a real drop. One
      // corpus scan into a domain-sized combinable agg, one
      // domain-keyed attach-back join, no broadcast hint (domain
      // tables reach tens of millions at crawl scale; AQE decides)
      val d = Tables.documents(s, dir)
      val url = graft.textops.Url.urlFixture(col("doc_id"), col("source"))
      val host = regexp_extract(graft.textops.Url.canonicalize(url),
        "^[a-z][a-z0-9+.-]*://([^/:?#]+)", 1)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      // bucket 10 plants the NULL-domain slice: a doc whose URL failed
      // to parse carries no host — the gate's advertised conservative
      // path (keep coalesces to false) must actually be exercised, and
      // NULL group-by keys must not join back to any profile row
      val planted = d.select(col("doc_id"),
        when(bucket < 10, lit("spam-farm.example.com"))
          .when(bucket === 10, lit(null).cast("string"))
          .otherwise(host).as("domain"),
        when(bucket < 10, lit("!!! buy now !!! buy now !!!"))
          .otherwise(col("text")).as("text"))
      graft.textops.Vocab.domainFilter(planted, "domain", "text")
        .select(col("doc_id"), col("domain"), col("domain_n_docs"),
          col("domain_mean_quality"), col("keep"))
    },
      // replays the planted spam domain (md5 bucket < 10 swaps host +
      // junk text), the per-domain mean-quality aggregate, and the
      // (mean_quality >= 0.3 AND n_docs >= 2) keep rule per doc
      s"""WITH ub AS (SELECT doc_id, source, text,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         pl AS (SELECT doc_id,
           CASE WHEN bucket < 10 THEN 'spam-farm.example.com'
                WHEN bucket = 10 THEN NULL
                ELSE lower(source) || '.example.com' END AS domain,
           CASE WHEN bucket < 10 THEN '!!! buy now !!! buy now !!!'
                ELSE text END AS text
           FROM ub),
         b AS (SELECT doc_id, domain, $duckQualityParts FROM pl),
         s AS (SELECT doc_id, domain,
           $duckQualityFromParts AS quality FROM b),
         sm AS (SELECT doc_id, domain,
           CAST(round(quality * 1000000) AS BIGINT) AS qm FROM s),
         pr0 AS (SELECT domain, count(*)::BIGINT AS domain_n_docs,
           2 * (sum(qm) + 1000000000 * count(*)) + count(*) AS biga,
           2 * count(*) AS bigb
           FROM sm GROUP BY domain),
         prof AS (SELECT domain, domain_n_docs,
           (((biga - (biga % bigb)) // bigb) - 1000000000)::DOUBLE
             / 1000000.0 AS domain_mean_quality
           FROM pr0)
         SELECT sm.doc_id, sm.domain, prof.domain_n_docs,
           prof.domain_mean_quality,
           COALESCE(prof.domain_mean_quality >= 0.3
                    AND prof.domain_n_docs >= 2, FALSE) AS keep
         FROM sm LEFT JOIN prof USING (domain)"""),

    Row("url_canonicalize", (s, dir) => {
      // the crawl-frontier dedup key: canonical URL (lowercase
      // scheme/host, fragment dropped, default port + www stripped,
      // tracking params dropped, params sorted, trailing slash
      // folded). The corpus has no URL column, so each doc carries a
      // deterministic messy-URL fixture covering every rule; one
      // narrow projection, no shuffle
      val d = Tables.documents(s, dir)
      val url = graft.textops.Url.urlFixture(col("doc_id"), col("source"))
      d.select(col("doc_id"), url.as("url"),
        graft.textops.Url.canonicalize(url).as("url_canonical"))
    },
      // replays the messy-URL fixture (md5 bucket draw) and every
      // canonicalization rule literally: lowercase scheme/host, www +
      // default-port strip, fragment drop, tracking-param filter,
      // param sort, trailing-slash fold
      """WITH ub AS (SELECT doc_id, source,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         u AS (SELECT doc_id,
           'HTTP://WWW.' || upper(source) || '.Example.COM:80/Docs/'
             || doc_id ||
           CASE WHEN bucket < 20 THEN '/?utm_source=x&b=2&a=1#frag'
                WHEN bucket < 40 THEN '?a=1&utm_campaign=y&fbclid=z'
                WHEN bucket < 60 THEN '/#section-2'
                WHEN bucket < 80 THEN '?z=9&a=1'
                ELSE '' END AS url
           FROM ub),
         p AS (SELECT doc_id, url,
           lower(regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 1)) AS scheme,
           lower(regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 2)) AS host0,
           regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 3) AS path0,
           regexp_extract(url,
             '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]+)([^?#]*)(\?[^#]*)?(#.*)?$', 4) AS q0
           FROM u),
         c AS (SELECT doc_id, url, scheme,
           CASE WHEN scheme = 'http'
                THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':80$', '')
                WHEN scheme = 'https'
                THEN regexp_replace(regexp_replace(host0, '^www\.', ''), ':443$', '')
                ELSE regexp_replace(host0, '^www\.', '') END AS host,
           CASE WHEN path0 = '' THEN '/'
                WHEN path0 <> '/' THEN regexp_replace(path0, '/$', '')
                ELSE path0 END AS path,
           array_to_string(list_sort(list_filter(
             string_split(regexp_replace(q0, '^\?', ''), '&'),
             x -> x <> '' AND NOT regexp_matches(x,
               '^(utm_[^=]*|gclid|fbclid)(=|$)'))), '&') AS q
           FROM p)
         SELECT doc_id, url,
           CASE WHEN scheme <> '' AND host <> ''
                THEN scheme || '://' || host || path ||
                     CASE WHEN q <> '' THEN '?' || q ELSE '' END
           END AS url_canonical
         FROM c"""),

    Row("sample_dsir", (s, dir) =>
      // DSIR-style importance scoring (Xie et al. 2023): hashed
      // n-gram bucket models for target (source = src0) vs the raw
      // pool, per-doc avg log-likelihood ratio, top-quartile keep.
      // One combinable bucket-count agg (10k buckets), broadcast
      // log-ratio table, one combinable per-doc agg, one
      // percentile_approx scalar — the corpus never shuffles
      graft.textops.Classifier.dsirScore(Tables.documents(s, dir),
        "doc_id", "text", col("source") === "src0"),
      // replays the hashed-n-gram bucket models (md5-fold % 10000),
      // add-one smoothing, the per-doc avg log-ratio rounded 6dp,
      // and the quartile threshold as explicit rank selection (the
      // corpus_profile_approx discrete-quantile convention)
      s"""WITH dt AS (SELECT doc_id, source = 'src0' AS t,
           list_filter(string_split_regex(lower(text), '\\s+'),
             x -> x <> '') AS w
           FROM documents),
         fu AS (SELECT doc_id, t, unnest(w) AS f FROM dt),
         fbg AS (SELECT doc_id, t, w[i] || ' ' || w[i+1] AS f
               FROM (SELECT doc_id, t, w,
                     unnest(generate_series(1, len(w) - 1)) AS i
                     FROM dt WHERE len(w) >= 2)),
         fa AS (SELECT doc_id, t,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(f), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 AS b
           FROM (SELECT * FROM fu UNION ALL SELECT * FROM fbg)),
         c AS (SELECT b, count(*) AS cr, count(*) FILTER (t) AS ct
               FROM fa GROUP BY b),
         tot AS (SELECT sum(cr) AS rtot, sum(ct) AS ttot FROM c),
         lr AS (SELECT b, ln((ct + 1.0) / (ttot + 10000))
                        - ln((cr + 1.0) / (rtot + 10000)) AS lr
               FROM c, tot),
         s AS (SELECT doc_id, count(*) AS n_feats,
               round(avg(lr), 6) AS dsir_score
               FROM fa JOIN lr USING (b) GROUP BY doc_id),
         r AS (SELECT dsir_score, row_number() OVER (ORDER BY dsir_score) AS rn,
               count(*) OVER () AS n FROM s),
         thr AS (SELECT max(CASE WHEN rn =
               greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
               THEN dsir_score END) AS t3 FROM r)
         SELECT d.doc_id, COALESCE(s.n_feats, 0) AS n_feats,
           s.dsir_score,
           COALESCE(s.dsir_score > thr.t3, false) AS keep
         FROM documents d LEFT JOIN s USING (doc_id), thr"""),

    Row("sample_cap_per_source", (s, dir) =>
      // "at most k docs per source" by deterministic md5 draw — the
      // per-domain ceiling applied before mixture weighting. Salted
      // two-phase top-k: per-(source, salt) windows keep local top-k
      // (a superset of the global answer), then the tiny survivor
      // frame re-ranks — never a corpus-wide window into |sources|
      // partitions
      graft.pipeline.Pipeline.capPerGroup(Tables.documents(s, dir),
        "doc_id", "source", k = 10),
      // the salted two-phase top-k equals this single global rank per
      // source by construction (each salt's local top-k is a superset
      // of its members of the global top-k)
      """WITH r AS (SELECT doc_id, source, md5(doc_id::VARCHAR) AS draw
           FROM documents),
         rk AS (SELECT doc_id, source, row_number() OVER (
             PARTITION BY source ORDER BY draw, doc_id) AS rank
           FROM r)
         SELECT doc_id, source, rank::BIGINT AS rank
         FROM rk WHERE rank <= 10"""),

    Row("topk_ngrams", (s, dir) =>
      // corpus-wide bigram heavy hitters: one map-side-combinable agg +
      // distributed TakeOrdered top-k (no global sort)
      graft.textops.Vocab.topNgrams(Tables.documents(s, dir), "text",
        n = 2, k = 50),
      // bigrams over the shared whitespace token fold; docs with < 2
      // tokens contribute nothing; (cnt desc, ngram) is a total order
      // so the LIMIT cut is engine-agnostic
      """WITH toks AS (SELECT
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         ng AS (SELECT w[i] || ' ' || w[i+1] AS ngram
                FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2))
         SELECT ngram, count(*) AS cnt FROM ng GROUP BY 1
         ORDER BY cnt DESC, ngram LIMIT 50"""),

    Row("tfidf_terms", (s, dir) =>
      // per-doc top-3 TF-IDF keywords: two combinable aggs + a
      // term-keyed join + per-doc window
      graft.textops.Vocab.tfidfTerms(Tables.documents(s, dir),
        "doc_id", "text", k = 3),
      // smooth tf-idf: score = tf * ln((N+1)/(df+1)) rounded to 6dp on
      // both engines; rank ties break on the term string
      """WITH toks AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> x <> '')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
             round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS score
           FROM tf JOIN dfreq USING (term), n)
         SELECT doc_id, term, tf, df, score, rank FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, term) AS rank
           FROM scored) WHERE rank <= 3"""),

    Row("bm25_search", (s, dir) =>
      // BM25 top-10 docs per probe query: corpus tokens narrow to the
      // broadcast query-term list BEFORE any shuffle; N/avgdl ride as
      // broadcast 1-row scalars; ranking cut on (6dp score, doc_id)
      graft.textops.Search.bm25(Tables.documents(s, dir), "doc_id",
        "text", BmQueries, k = 10), {
      // same tokenization, same Lucene-form idf and tf normalization
      // with the constants spelled identically ((1.2 + 1.0), 1.0 - 0.75)
      // so both engines fold the same IEEE arithmetic; cut on
      // (6dp score, doc_id)
      val qvals = BmQueries.flatMap { case (qid, qt) =>
        qt.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct
          .map(t => s"('$qid', '$t')")
      }.mkString(", ")
      s"""WITH q(query_id, term) AS (VALUES $qvals),
         toks AS (SELECT doc_id,
             list_filter(string_split_regex(lower(text), '\\s+'),
               x -> x <> '') AS w
           FROM documents),
         dl AS (SELECT doc_id, len(w) AS dl FROM toks),
         sc AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
         tk AS (SELECT doc_id, unnest(w) AS term FROM toks),
         m AS (SELECT q.query_id, q.term, tk.doc_id
               FROM tk JOIN q USING (term)),
         tf AS (SELECT query_id, term, doc_id, count(*) AS tf
                FROM m GROUP BY 1, 2, 3),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                 FROM tf GROUP BY 1),
         s AS (SELECT tf.query_id, tf.doc_id,
             round(sum(ln(1.0 + (sc.n_docs - dfq.df + 0.5) / (dfq.df + 0.5))
               * (tf.tf * (1.2 + 1.0))
               / (tf.tf + 1.2 * ((1.0 - 0.75) + 0.75 * dl.dl / sc.avgdl))),
               6) AS score
           FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id), sc
           GROUP BY 1, 2)
         SELECT query_id, rank, doc_id, score FROM (
           SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id) AS rank FROM s)
         WHERE rank <= 10"""
    }),

    Row("pmi_bigrams", (s, dir) =>
      // top-50 bigram collocations by PMI (joint count ≥ 5): two
      // combinable count aggs, vocabulary-sized marginal joins on
      // 8-byte word hashes, TakeOrdered cut on (6dp pmi, bigram)
      graft.textops.Search.pmiBigrams(Tables.documents(s, dir), "text",
        minCount = 5, k = 50),
      // identical count model and division order; ordering on the
      // ROUNDED pmi so the top-50 cut agrees between engines
      """WITH toks AS (SELECT list_filter(
             string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         c1 AS (SELECT tok, count(*) AS c FROM uni GROUP BY 1),
         nu AS (SELECT count(*) AS nu FROM uni),
         bg AS (SELECT w[i] || ' ' || w[i+1] AS bigram
                FROM (SELECT w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         c12 AS (SELECT bigram, count(*) AS c12 FROM bg GROUP BY 1
                 HAVING count(*) >= 5),
         nb AS (SELECT count(*) AS nb FROM bg)
         SELECT bigram, c12, a.c AS c1, b.c AS c2,
           round(ln((c12 / nb.nb) /
             ((a.c / nu.nu) * (b.c / nu.nu))), 6) AS pmi
         FROM c12
           JOIN c1 a ON a.tok = split_part(bigram, ' ', 1)
           JOIN c1 b ON b.tok = split_part(bigram, ' ', 2), nb, nu
         ORDER BY pmi DESC, bigram LIMIT 50"""),

    Row("corpus_profile", (s, dir) =>
      // the per-source corpus datasheet: one scan + one stratum-keyed agg
      graft.textops.Vocab.corpusProfile(Tables.documents(s, dir),
        "source", "lang", "text"),
      duckCorpusProfileOracle),

    Row("corpus_profile_approx", (s, dir) =>
      // the sketched-percentile datasheet: bounded-memory GK sketch per
      // stratum instead of the exact buffering percentile — the form
      // for strata that outgrow executor memory
      graft.textops.Vocab.corpusProfileApprox(Tables.documents(s, dir),
        "source", "lang", "text"),
      // below the sketch's compression threshold approx_percentile IS
      // the exact discrete quantile: the value at 1-based rank
      // ceil(p * n) of the stratum's sorted values (QuantileSummaries'
      // rank rule with exact samples) — replayed here as an explicit
      // row_number selection, so even the "approximate" datasheet row
      // hash-checks
      s"""WITH b AS (SELECT source, lang, $duckQualityParts FROM documents),
         s AS (SELECT source, lang, n_tok,
               $duckQualityFromParts AS quality FROM b),
         a AS (SELECT source, count(*) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               $duckMeanQualityMicro,
               count(DISTINCT lang) AS n_langs
             FROM s GROUP BY source),
         r AS (SELECT source, n_tok,
               row_number() OVER (PARTITION BY source ORDER BY n_tok) AS rn,
               count(*) OVER (PARTITION BY source) AS n FROM s),
         p AS (SELECT source,
               max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                   THEN n_tok END) AS p50_tokens,
               max(CASE WHEN rn = greatest(CAST(ceil(0.9 * n) AS BIGINT), 1)
                   THEN n_tok END) AS p90_tokens
             FROM r GROUP BY source)
         SELECT a.source, a.n_docs, a.n_tokens, a.mean_quality,
           p.p50_tokens, p.p90_tokens, a.n_langs
         FROM a JOIN p USING (source)"""),

    Row("novelty_score", (s, dir) =>
      // per-doc fraction of corpus-unique bigrams: the templated-text
      // signal exact and near-dup passes both miss
      graft.textops.Vocab.noveltyScore(Tables.documents(s, dir),
        "doc_id", "text", n = 2),
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         ng AS (SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] AS ngram
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         d AS (SELECT ngram, count(*) AS df FROM ng GROUP BY 1)
         SELECT doc_id, count(*) AS n_ngrams,
           round(avg(CASE WHEN df = 1 THEN 1.0 ELSE 0.0 END), 6) AS novelty
         FROM ng JOIN d USING (ngram) GROUP BY doc_id"""),

    Row("lm_score", (s, dir) =>
      // per-doc fluency under the corpus's own add-one bigram LM —
      // the model-based quality axis next to the heuristic
      // quality_score
      graft.textops.Vocab.lmScore(Tables.documents(s, dir),
        "doc_id", "text"),
      // replays Vocab.lmScore on the string keys (the engine joins on
      // xxhash64 of the same strings — identical up to the vanishing
      // collision contract): corpus bigram/unigram counts, add-one
      // smoothing, ln, 6dp-rounded per-doc average
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vv FROM uni)
         SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln((c12.c12 + 1.0) / (c1.c1 + v.vv))), 6) AS avg_logp
         FROM bg JOIN c12 USING (bg) JOIN c1 ON c1.tok = bg.w1, v
         GROUP BY doc_id"""),

    Row("quality_model_score", (s, dir) => {
      // the LEARNED-filter scoring pass (fastText/DCLM class): a
      // linear unigram model scored as one broadcast weight-table
      // join + ONE combinable per-doc aggregate. The fixture weight
      // table is the corpus's own top-2000 tokens (md5-fold weights
      // — both engines replay it), standing in for a trained model's
      // weight table (any (token, weight) frame scores the same way);
      // integer micro-unit score, OOV tokens weigh 0
      val d = Tables.documents(s, dir)
      graft.textops.Classifier.scoreLinear(d, "doc_id", "text",
        graft.textops.Classifier.fixtureWeights(d, "text", vocab = 2000))
    },
      // replays the fixture vocabulary (top-2000 tokens, count desc /
      // token asc cut), the md5-fold weights, the OOV-zero left join,
      // and the all-positive round-half-up micro-unit division
      """WITH qmt AS (SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\s+'),
             x -> x <> '')) AS token
           FROM documents),
         qmv AS (SELECT token FROM qmt GROUP BY token
                 ORDER BY count(*) DESC, token ASC LIMIT 2000),
         qmw AS (SELECT token,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(token), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 2001 AS weight
           FROM qmv),
         qms AS (SELECT doc_id, count(*) AS n_tokens,
               count(w.weight) AS n_invocab,
               sum(COALESCE(w.weight, 0)) AS wsum
             FROM qmt LEFT JOIN qmw w USING (token) GROUP BY doc_id)
         SELECT d.doc_id,
           COALESCE(qms.n_tokens, 0) AS n_tokens,
           COALESCE(qms.n_invocab, 0) AS n_invocab,
           CAST(CASE WHEN qms.doc_id IS NULL THEN NULL
                ELSE (wsum * 2000000 + n_tokens) // (n_tokens * 2) END
             AS BIGINT) AS score_micro
         FROM documents d LEFT JOIN qms USING (doc_id)"""),

    Row("doc_winnow", (s, dir) =>
      // rolling-hash (winnowing) fingerprints as (doc_id, fp) rows
      TextOps.winnowing(Tables.documents(s, dir), "doc_id", "text",
        k = 8, w = 4),
      s"""WITH $duckWinnowFpCtes
         SELECT doc_id, fp FROM f"""),

    Row("doc_fingerprint", (s, dir) => {
      val d = Tables.documents(s, dir)
      d.select(col("doc_id"), TextOps.fingerprint(col("text")).as("fingerprint"))
    },
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fingerprint
         FROM documents"""),

    // the REAL-tokenizer (BPE) budget family: the same operators
    // metered in the subword units a trainer actually consumes. One
    // codegen'd scan-stage kernel (Kernels.bpeCount, memoized per distinct
    // word) replaces the whitespace count; everything downstream —
    // prefix sums, pack cuts, mixture rates — is unchanged plan shape.
    Row("bpe_tokens", (s, dir) =>
      // the tokenizer itself as a query: per-doc whitespace vs BPE
      // token counts under the fixture merge table
      graft.util.Par.spread(Tables.documents(s, dir)).select(col("doc_id"),
        TextOps.tokenCount(col("text")).cast("long").as("n_tokens"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe")),
      // the fixture tokenizer replayed as a recursive CTE (encode each
      // DISTINCT word once, join back to occurrences) next to the
      // whitespace count
      s"""WITH RECURSIVE $duckBpeCtes
         SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens, c.n_bpe
         FROM btok t JOIN bcounts c USING (doc_id)"""),

    Row("bpe_tokens_ext", (s, dir) => {
      // budgets in a REAL tokenizer's units: the merge table comes from
      // an EXTERNAL merges.txt (standard ordered-pair format), loaded
      // via BpeVocab.fromFile — the path a production pipeline takes
      // with its model's actual vocabulary. The fixture's first 100
      // merges stand in as the "external" table (written on first
      // invocation, probe-row convention): a genuinely different,
      // coarser vocabulary than the 200-merge fixture, whose oracle CTE
      // interpolates the same 100-merge prefix.
      val sd = storeDir(dir, "bpe")
      val path = s"$sd/merges.txt"
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(path)))
        graft.functions.BpeVocab.toFile(
          graft.functions.BpeVocab.merges.take(100), path,
          s.sparkContext.hadoopConfiguration)
      val ext = graft.functions.BpeVocab.fromFile(path,
        s.sparkContext.hadoopConfiguration)
      graft.util.Par.spread(Tables.documents(s, dir)).select(col("doc_id"),
        TextOps.bpeTokenCount(col("text"), ext).as("n_bpe"))
    },
      // the same CTE chain under the EXTERNAL 100-merge table the query
      // loads from merges.txt — interpolated from the identical prefix,
      // so kernel, file round-trip, and oracle all consume one table
      s"""WITH RECURSIVE ${duckBpeCtesFor(
            graft.functions.BpeVocab.merges.take(100))}
         SELECT t.doc_id, c.n_bpe
         FROM btok t JOIN bcounts c USING (doc_id)"""),

    Row("bpe_tokens_byte", (s, dir) =>
      // GPT-2-family BYTE-LEVEL pre-encoding: each word's UTF-8 bytes
      // (through the public bytes_to_unicode map) seed the merge loop
      // — the symbol space real merges.txt vocabularies are written
      // over. The driver corpus is pure ASCII (where byte-level ≡
      // code-point), so a deterministic multi-byte suffix is planted
      // in-query: byte-level metering counts its é (2 bytes) and №
      // (3 bytes) as byte symbols, which the oracle replays through
      // the same literal map
      graft.util.Par.spread(Tables.documents(s, dir)).select(col("doc_id"),
        graft.functions.Kernels.bpeCount(
          concat(col("text"), lit(" café №")),
          graft.functions.BpeVocab.merges, byteLevel = true).as("n_bpe")),
      // the byte-level CTE chain over the same planted multi-byte
      // suffix; the byteToUnicode map is interpolated literally so the
      // pre-encoder can never drift between engines
      s"""WITH RECURSIVE ${duckBpeCtesFor(graft.functions.BpeVocab.merges,
            textExpr = "text || ' caf" + "é №'",
            byteLevel = true)}
         SELECT t.doc_id, c.n_bpe
         FROM btok t JOIN bcounts c USING (doc_id)"""),

    Row("seq_pack_bpe", (s, dir) =>
      graft.pipeline.Pipeline.seqPack(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048,
        counter = TextOps.bpeTokenCount),
      // the seq_pack prefix-sum chain metered in BPE tokens
      s"""WITH RECURSIVE $duckBpeCtes,
         bp AS (SELECT doc_id, n_bpe AS n_tokens,
           COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM bcounts)
         SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM bp"""),

    Row("pack_manifest_bpe", (s, dir) =>
      graft.pipeline.Pipeline.packManifest(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048,
        counter = TextOps.bpeTokenCount),
      s"""WITH RECURSIVE $duckBpeCtes,
         bp AS (SELECT doc_id, n_bpe AS n_tokens,
           COALESCE(sum(n_bpe) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM bcounts),
         bpacked AS (SELECT doc_id, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM bp)
         SELECT pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(pack_offset::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS offsets_csv,
           string_agg(doc_id::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS doc_ids_csv
         FROM bpacked GROUP BY pack_id"""),

    Row("sample_mixture_bpe", (s, dir) =>
      graft.pipeline.Pipeline.sampleMixture(Tables.documents(s, dir),
        "doc_id", "lang", "text",
        weights = Map("en" -> 6.0, "zh" -> 2.0, "fr" -> 1.0, "es" -> 1.0),
        counter = TextOps.bpeTokenCount),
      // sample_mixture's rate computation with T_s summed in BPE tokens
      s"""WITH RECURSIVE $duckBpeCtes,
         mb AS (SELECT d.doc_id, d.lang, c.n_bpe AS n_tokens
             FROM documents d JOIN bcounts c USING (doc_id)),
         sw AS (SELECT lang, sum(n_tokens) AS ts,
               CASE lang WHEN 'en' THEN 6.0 WHEN 'zh' THEN 2.0
                         WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0
                         ELSE 0.0 END AS w
             FROM mb GROUP BY lang),
         sf AS (SELECT lang, ts, w FROM sw WHERE w > 0),
         ws AS (SELECT sum(w) AS wsum FROM sf),
         sh AS (SELECT lang, ts, w / ws.wsum AS share FROM sf, ws),
         t0 AS (SELECT min(ts / share) AS tout FROM sh),
         r AS (SELECT lang,
               CAST(floor(share * t0.tout / ts * 10000 + 1e-9) AS BIGINT) AS keep
             FROM sh, t0)
         SELECT mb.doc_id, mb.lang, mb.n_tokens
         FROM mb JOIN r USING (lang)
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(mb.doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 < r.keep"""),

    Row("corpus_profile_bpe", (s, dir) =>
      graft.textops.Vocab.corpusProfile(Tables.documents(s, dir),
        "source", "lang", "text",
        counter = TextOps.bpeTokenCount),
      // the per-source datasheet with token mass in BPE units; quality
      // stays on the shared heuristic parts
      s"""WITH RECURSIVE $duckBpeCtes,
         pqb AS (SELECT doc_id, source, lang, $duckQualityParts FROM documents),
         ps AS (SELECT pqb.source, pqb.lang, c.n_bpe AS bt,
               $duckQualityFromParts AS quality
             FROM pqb JOIN bcounts c USING (doc_id))
         SELECT source, count(*) AS n_docs,
           CAST(sum(bt) AS BIGINT) AS n_tokens,
           $duckMeanQualityMicro,
           round(quantile_cont(bt, 0.5), 6) AS p50_tokens,
           round(quantile_cont(bt, 0.9), 6) AS p90_tokens,
           count(DISTINCT lang) AS n_langs
         FROM ps GROUP BY source""")
  )
}
