package graft
package registry

import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The oracle CTEs and fixtures more than one family replays: the
  * MinHash signature, pair and probe chains, the CJK fixture and script
  * segmenter, the HTML page fixture and cleaning mirrors, the
  * transitive closure, winnow fingerprints, the quality and stop-list
  * CTEs, the md5 bucket and the semantic family's constants.
  */
private[graft] object Shared {

  /** DuckDB CTE prefix shared by every MinHash oracle: tokens →
    * shingles (`sh`) → md5 double-hash signature → LSH band keys
    * (`banded(doc_id, bnd, bucket)`). `DedupRows.minhashPairCtes` appends the
    * batch pair pipeline; the `dedup_minhash_incremental` oracle appends
    * the broadcast-probe pipeline — both replay the SAME signature
    * definition, so they can never drift. Parameterized on the source
    * relation (default `documents`) so composed pipelines
    * (`corpus_clean_near`) replay the identical signature over their
    * own survivor CTE.
    */
  private[registry] def minhashBandedCtesFrom(src: String) =
    s"""toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS w
           FROM $src),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 2, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 3 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] END AS shingle FROM idx),
         hh AS (SELECT doc_id, md5(shingle) AS m FROM sh),
         hv AS (SELECT doc_id,
             list_sum(list_transform(generate_series(1, 15),
               p -> ((strpos('0123456789abcdef', substr(m, p, 1)) - 1)::BIGINT
                     << (4 * (15 - p)))))::BIGINT AS h1,
             list_sum(list_transform(generate_series(1, 14),
               p -> ((strpos('0123456789abcdef', substr(m, 16 + p, 1)) - 1)::BIGINT
                     << (4 * (14 - p)))))::BIGINT AS h2
           FROM hh),
         sig AS (SELECT doc_id, j, min(h1 + j * h2) AS m
                 FROM hv, (SELECT unnest(generate_series(0, 15)) AS j)
                 GROUP BY doc_id, j),
         banded AS (SELECT doc_id, j // 2 AS bnd,
             md5((j // 2) || '#' || string_agg(m::VARCHAR, ',' ORDER BY j)) AS bucket
           FROM sig GROUP BY doc_id, j // 2)"""

  private[registry] val minhashBandedCtes = minhashBandedCtesFrom("documents")

  /** [[minhashBandedCtes]] + the batch pair pipeline mirroring
    * [[graft.dedup.Dedup.minhashLsh]] (bucket cap → candidate pairs →
    * exact-Jaccard verify), ending in `mpairs(doc_a, doc_b, jaccard)`.
    * The `dedup_minhash` oracle selects from it directly; the
    * `dedup_clusters` / `dedup_resolve` oracles build a recursive
    * transitive closure over the same pairs, so all three rows check
    * the same pipeline.
    */
  private[registry] def minhashPairCtesFrom(src: String) = minhashBandedCtesFrom(src) +
    """,
         capped AS (SELECT bnd, bucket, doc_id FROM banded
           QUALIFY count(*) OVER (PARTITION BY bnd, bucket) <= 64),
         p AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
               FROM capped x JOIN capped y USING (bnd, bucket)
               WHERE x.doc_id < y.doc_id),
         sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         iv AS (SELECT p.doc_a, p.doc_b, count(*) AS inter
                FROM p JOIN sh x ON x.doc_id = p.doc_a
                JOIN sh y ON y.doc_id = p.doc_b AND y.shingle = x.shingle
                GROUP BY 1, 2),
         mpairs AS (SELECT iv.doc_a, iv.doc_b,
           round(iv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iv.inter), 6) AS jaccard
         FROM iv JOIN sz sx ON sx.doc_id = iv.doc_a
         JOIN sz sy ON sy.doc_id = iv.doc_b
         WHERE round(iv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iv.inter), 6) >= 0.5)"""

  /** DuckDB mirrors of [[graft.textops.TextOps.cjkPadClass]] /
    * [[graft.textops.TextOps.seaBaseClass]] /
    * [[graft.textops.TextOps.seaMarkClass]] — identical code-point
    * ranges spelled in RE2's `\x{…}` syntax (NOT `\p{Han}`/`\p{M}`:
    * property classes drift across the engines' Unicode versions;
    * explicit ranges cannot; RE2 has no `\X` at all).
    */
  private val duckCjkPadClass: String =
    "[\\x{3040}-\\x{30FF}\\x{3400}-\\x{4DBF}\\x{4E00}-\\x{9FFF}" +
      "\\x{F900}-\\x{FAFF}" +
      "\\x{20000}-\\x{2A6DF}\\x{2F800}-\\x{2FA1F}]"
  private val duckSeaBaseClass: String =
    "[\\x{0E00}-\\x{0E7F}\\x{0E80}-\\x{0EFF}" +
      "\\x{1000}-\\x{109F}\\x{1780}-\\x{17FF}]"
  private val duckSeaMarkClass: String =
    "[\\x{0E31}\\x{0E34}-\\x{0E3A}\\x{0E47}-\\x{0E4E}" +
      "\\x{0EB1}\\x{0EB4}-\\x{0EBC}\\x{0EC8}-\\x{0ECD}" +
      "\\x{102B}-\\x{103E}\\x{17B4}-\\x{17D3}\\x{17DD}]"

  /** DuckDB replay of [[graft.textops.TextOps.segmentScripts]]: Han/
    * kana per code point, SEA scripts per grapheme cluster (base +
    * trailing dependent signs) — the identical alternation, leftmost-
    * first in both engines.
    */
  private[registry] def duckSegment(e: String): String =
    s"regexp_replace($e, '($duckCjkPadClass|" +
      s"$duckSeaBaseClass$duckSeaMarkClass*)', ' \\1 ', 'g')"

  /** Hex→Han map for the planted-CJK fixture: the 10 zh stopwords
    * first (so a planted doc's language signal is real), 6 common Han
    * fillers after.
    */
  private val cjkHan16 = "的是了在和有我不这他中大来上国人"
  private val cjkKata16 = "アイウエオカキクケコサシスセソタ"

  /** The html_extract_main fixture page around each document's text —
    * shared by `html_extract_main`, `warc_response_extract`, and
    * `crawl_clean` (oracle twin: [[htmlMainCtes]]'s `hm` CTE). Plants
    * the three boilerplate shapes a real page carries around its
    * prose (nav bar, link farm, entity-laden footer) plus a prose
    * block with an inline link the keep rule must retain.
    */
  private[registry] def htmlFixturePage: org.apache.spark.sql.Column = concat(
    lit("<html><head><title>Doc "), col("doc_id").cast("string"),
    lit("</title><script>var nav = 1 &amp;&amp; 2;</script>" +
      "<style>a { color: blue; }</style></head><body>" +
      "<nav><a href=\"/\">Home</a> <a href=\"/about\">About</a> " +
      "<a href=\"/contact\">Contact</a></nav><p>"),
    col("text"),
    lit("</p><p>Read the full guide at <a href=\"/guide\">the " +
      "documentation portal</a> for complete details today</p><div>"),
    expr("repeat('<a href=\"/deal\">hot deal item</a> ', 4)"),
    lit("</div><footer>Copyright &amp; terms</footer></body></html>"))

  /** The planted-CJK fixture the multilingual twin rows share: docs
    * whose PAIR key (doc_id div 2) lands in md5 bucket < 30 have their
    * text swapped for a NO-SPACE mixed-script string — 32 Han chars
    * derived from the pair key (so id-partners 2k/2k+1 share the base:
    * a planted near-dup pair) plus a 4-katakana per-doc suffix (so the
    * pair is near, not exact). Everything derives from md5(doc_id), so
    * the DuckDB oracle replays it exactly ([[cjkFixtureCtes]]).
    */
  private[registry] def cjkFixture(d: DataFrame): DataFrame = {
    val hex = "0123456789abcdef"
    val bucket = graft.util.Sampling.md5Bucket(expr("doc_id div 2"))
    val base = translate(
      md5(expr("doc_id div 2").cast("string")), hex, cjkHan16)
    val suf = translate(
      substring(md5(col("doc_id").cast("string")), 1, 4), hex, cjkKata16)
    d.select(col("doc_id"), col("lang"),
      when(bucket < 30, concat(base, suf)).otherwise(col("text")).as("text"))
  }

  /** DuckDB twin of [[cjkFixture]]; ends in `cjk(doc_id, lang, text)`.
    * No leading WITH.
    */
  private[registry] val cjkFixtureCtes: String =
    s"""cjkb AS (SELECT doc_id, lang, text,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5((doc_id // 2)::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents),
         cjk AS (SELECT doc_id, lang,
           CASE WHEN bucket < 30 THEN
             translate(md5((doc_id // 2)::VARCHAR),
               '0123456789abcdef', '$cjkHan16')
             || translate(substr(md5(doc_id::VARCHAR), 1, 4),
               '0123456789abcdef', '$cjkKata16')
           ELSE text END AS text FROM cjkb)"""

  /** Recursive min-label transitive closure over a `(doc_a, doc_b)` pair
    * CTE (appended to its chain; the whole WITH is declared RECURSIVE),
    * ending in `lbl(node, cluster_id)` — the DuckDB mirror of
    * [[graft.dedup.Dedup.clusters]]'s fixpoint. `reach` enumerates every
    * (node, reachable-node) pair of the undirected pair graph; UNION
    * (distinct) bounds it at O(V²) rows of the tiny sf0.01 pair set.
    */
  private[registry] def closureCtes(pairsCte: String): String =
    s""",
         cedges AS (SELECT doc_a AS src, doc_b AS dst FROM $pairsCte
                    UNION SELECT doc_b, doc_a FROM $pairsCte),
         reach AS (SELECT src AS node, dst AS r FROM cedges
                   UNION
                   SELECT reach.node, e.dst FROM reach
                   JOIN cedges e ON reach.r = e.src),
         lbl AS (SELECT node, least(min(r), node) AS cluster_id
                 FROM reach GROUP BY node)"""

  /** The semantic family's registered constants — the SAME values are
    * passed to the Scala entries and the store builds, and default the
    * oracle CTE function (`duckHierFitCtes`), so engine and oracle
    * cannot silently desynchronize when a parameter changes.
    */
  private[registry] val SemanticDim = 64
  private[registry] val SemanticTargetListSize = 32
  private[registry] val SemanticFitPct = 60

  private[registry] def docBucket: Column = graft.util.Sampling.md5Bucket(col("doc_id"))

  /** One broadcast-probe pipeline as suffixed CTEs (`incb$sfx` …
    * `best$sfx`), parameterized on the increment / corpus membership
    * predicates over `sb` — the building block the two-probe
    * `dedup_minhash_stored_updated` oracle applies twice, replaying
    * [[graft.dedup.Dedup.minhashIncrementalStored]] exactly like
    * `DedupRows.minhashIncrementalOracle` (whose single probe it textually
    * mirrors). Requires `banded`, `sb`, `sh`, `isz` in scope.
    */
  private[registry] def minhashProbeCtes(sfx: String, incPred: String,
                               corPred: String): String =
    s"""incb$sfx AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE $incPred),
         corb$sfx AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE $corPred),
         ikeys$sfx AS (SELECT DISTINCT bnd, bucket FROM incb$sfx),
         mat$sfx AS (SELECT c.doc_id, c.bnd, c.bucket FROM corb$sfx c
                 JOIN ikeys$sfx USING (bnd, bucket)),
         mcap$sfx AS (SELECT doc_id, bnd, bucket FROM mat$sfx
                  QUALIFY count(*) OVER (PARTITION BY bnd, bucket) <= 64),
         cand$sfx AS (SELECT DISTINCT i.doc_id AS inc_id, m.doc_id AS dup_id
                  FROM incb$sfx i JOIN mcap$sfx m USING (bnd, bucket)),
         iiv$sfx AS (SELECT cand$sfx.inc_id, cand$sfx.dup_id, count(*) AS inter
                 FROM cand$sfx JOIN sh x ON x.doc_id = cand$sfx.inc_id
                 JOIN sh y ON y.doc_id = cand$sfx.dup_id AND y.shingle = x.shingle
                 GROUP BY 1, 2),
         ver$sfx AS (SELECT iiv$sfx.inc_id, iiv$sfx.dup_id,
             round(iiv$sfx.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv$sfx.inter), 6) AS jaccard
           FROM iiv$sfx JOIN isz sx ON sx.doc_id = iiv$sfx.inc_id
           JOIN isz sy ON sy.doc_id = iiv$sfx.dup_id
           WHERE round(iiv$sfx.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv$sfx.inter), 6) >= 0.5),
         best$sfx AS (SELECT inc_id, dup_id, jaccard FROM (
             SELECT *, row_number() OVER (PARTITION BY inc_id
               ORDER BY jaccard DESC, dup_id) AS rn FROM ver$sfx) WHERE rn = 1)"""

  /** Replays the justext-core main-content selection: the block
    * segmentation (block-level tags → chr(1) delimiters → split), the
    * per-block cleaner, the integer (minWords=5, maxLinkPct=30) keep
    * rule over word and anchor-word counts, and the document-order
    * join — all as DuckDB list lambdas mirroring Spark's higher-order
    * array functions one for one.
    */
  // DuckDB mirrors of Html.mainText's per-unit helpers — shared by the
  // html_extract_main oracle and the crawl_clean composition oracle.
  // the per-unit cleaner (tag strip → entities &amp;-last → collapse)
  private def htmlCleanSql(x: String): String =
    s"""trim(regexp_replace(
           replace(replace(replace(replace(replace(replace(
             regexp_replace($x, '(?s)<[^>]+>', ' ', 'g'),
             '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
             '&#39;', ''''), '&amp;', '&'),
           '\\s+', ' ', 'g'))"""
  private def htmlWcSql(c: String): String =
    s"(CASE WHEN length($c) = 0 THEN 0 ELSE len(string_split($c, ' ')) END)"
  private def htmlAwSql(b: String): String =
    s"""coalesce(list_sum(list_transform(
         regexp_extract_all($b, '(?is)<a(\\s[^>]*)?>(.*?)</a>', 2),
         a -> ${htmlWcSql(htmlCleanSql("a"))})), 0)"""
  private def htmlKeepSql(b: String): String =
    s"(${htmlWcSql(htmlCleanSql(b))} >= 5 AND " +
      s"${htmlAwSql(b)} * 100 <= ${htmlWcSql(htmlCleanSql(b))} * 30)"
  private val htmlBlockTagSql = "(?is)</?(p|div|h[1-6]|li|ul|ol|table|tr|td|th|" +
    "section|article|header|footer|nav|aside|blockquote|br)[^>]*>"

  /** The shared html_extract_main fixture + main-text CTE chain,
    * ending in `m(doc_id, html, blocks, main)` — no leading WITH.
    * Reused by the `crawl_clean` oracle, whose engine side recovers
    * the SAME page from WARC response shards before extracting.
    */
  private[registry] lazy val htmlMainCtes: String =
    s"""hm AS (SELECT doc_id,
           '<html><head><title>Doc ' || doc_id::VARCHAR ||
           '</title><script>var nav = 1 &amp;&amp; 2;</script>' ||
           '<style>a { color: blue; }</style></head><body>' ||
           '<nav><a href="/">Home</a> <a href="/about">About</a> ' ||
           '<a href="/contact">Contact</a></nav><p>' || text ||
           '</p><p>Read the full guide at <a href="/guide">the ' ||
           'documentation portal</a> for complete details today</p><div>' ||
           repeat('<a href="/deal">hot deal item</a> ', 4) ||
           '</div><footer>Copyright &amp; terms</footer></body></html>'
             AS html
           FROM documents),
         blk AS (SELECT doc_id, html,
           string_split(regexp_replace(
             regexp_replace(regexp_replace(regexp_replace(html,
               '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
               '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
               '(?s)<!--.*?-->', ' ', 'g'),
             '$htmlBlockTagSql', chr(1), 'g'), chr(1)) AS blocks
           FROM hm),
         m AS (SELECT doc_id, html, blocks,
           array_to_string(list_transform(
             list_filter(blocks, b -> ${htmlKeepSql("b")}),
             b -> ${htmlCleanSql("b")}), ' ') AS main
           FROM blk)"""

  private[registry] lazy val htmlExtractMainOracle: String =
    s"""WITH $htmlMainCtes
         SELECT doc_id,
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
           len(regexp_extract_all(html, '(?i)<a[\\s>]'))::BIGINT AS n_links,
           len(list_filter(blocks,
             b -> ${htmlWcSql(htmlCleanSql("b"))} > 0))::BIGINT AS n_blocks,
           len(list_filter(blocks, b -> ${htmlKeepSql("b")}))::BIGINT AS n_kept,
           length(main)::BIGINT AS main_len,
           md5(main) AS main_fp
         FROM m"""

  /** The md5 percent-bucket fold over an id expression — the SQL twin
    * of [[graft.util.Sampling.md5Bucket]], shared by every sampling
    * oracle.
    */
  private[registry] def duckMd5Pct(idExpr: String): String =
    s"""list_sum(list_transform(generate_series(1, 15),
           p -> ((strpos('0123456789abcdef',
                  substr(md5($idExpr::VARCHAR), p, 1)) - 1)::BIGINT
                 << (4 * (15 - p)))))::BIGINT % 100"""

  /** The winnowing fingerprint rows `(doc_id, fp)` as DuckDB CTEs
    * (k = 8, w = 4 — the registered parameters), shared by the
    * `doc_winnow` and `dedup_spans` oracles so the fingerprint
    * definition can never drift between them. Mirrors
    * [[graft.textops.TextOps.winnowing]]: top-60-bit md5 k-gram hashes,
    * window-min, distinct per document.
    */
  private[registry] val duckWinnowFpCtes: String =
    """h AS (SELECT doc_id,
           list_transform(generate_series(1, greatest(length(text) - 8 + 1, 1)),
             i -> list_sum(list_transform(generate_series(1, 15),
               p -> ((strpos('0123456789abcdef', substr(md5(substr(text, i, 8)), p, 1)) - 1)::BIGINT
                     << (4 * (15 - p)))))::BIGINT) AS kh
           FROM documents),
         w AS (SELECT doc_id, list_distinct(list_transform(
             generate_series(1, greatest(len(kh) - 4 + 1, 1)),
             j -> list_min(kh[j:j+3]))) AS fps FROM h),
         f AS (SELECT doc_id, unnest(fps) AS fp FROM w)"""

  /** The quality-score heuristic's component expressions (token count,
    * punctuation ratio, stopword ratio) and the [0,1] blend, shared by
    * the `quality_score` and `corpus_clean` oracles so the two rows can
    * never drift apart.
    */
  private[registry] lazy val duckStopList: String =
    TextOps.stopwords.values.flatten.toSeq.distinct
      .map(w => s"'$w'").mkString("[", ", ", "]")

  private[registry] lazy val duckQualityParts: String = {
    val stops = duckStopList
    s"""len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::DOUBLE AS n_tok,
           CASE WHEN length(text) = 0 THEN 0.0 ELSE
             length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g'))::DOUBLE
             / length(text)::DOUBLE END AS punct,
           CASE WHEN len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) = 0 THEN 0.0 ELSE
             len(list_filter(string_split_regex(lower(text), '\\s+'),
                 x -> x <> '' AND list_contains($stops, x)))::DOUBLE
             / len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> ''))::DOUBLE END AS stopr"""
  }

  private[registry] val duckQualityFromParts: String =
    """round(greatest(0.0,
           least(n_tok / 50.0, 1.0) * 0.4 + least(stopr * 4.0, 1.0) * 0.4
           + (1.0 - least(punct * 5.0, 1.0)) * 0.2), 6)"""
}
