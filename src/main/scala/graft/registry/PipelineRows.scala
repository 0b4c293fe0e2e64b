package graft
package registry

import graft.sources.Tables
import org.apache.spark.sql.functions._
import Shared._

/** The corpus-preparation pipeline (north star): PII scrub, HTML
  * extraction, sequence packing, shuffles and sampling mixtures, the
  * composed clean and ingest pipelines, and decontamination.
  */
private[graft] object PipelineRows {

  /** The global sequence-packing CTE chain (budget 2048), ending in
    * `packed(doc_id, n_tokens, pack_id, pack_offset)` — shared by the
    * `seq_pack` (per-doc) and `pack_manifest` (per-pack) oracles so
    * the packing definition can never drift between them.
    */
  private val duckSeqPackCtes =
    """b AS (SELECT doc_id,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         p AS (SELECT doc_id, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM b),
         packed AS (SELECT doc_id, n_tokens, CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM p)"""


  /** Replays the HTML cleaning contract literally, same step order:
    * block drops → tag strip → entity decode (`&amp;` last) →
    * whitespace collapse; RE2-safe patterns so both regex engines
    * agree character for character. Shared by `html_extract` and its
    * SQL front door `sql_html_extract` (same page, same decision).
    */
  private lazy val htmlExtractOracle: String =
    """WITH h AS (SELECT doc_id,
           '<html><head><title>Doc ' || doc_id::VARCHAR ||
           '</title><SCRIPT type="text/javascript">var x = 1 ' ||
           '&amp;&amp; 2;' || chr(10) || 'if (x < 3) { x = 4; }</SCRIPT>' ||
           '<style>p { color: red; }</style></head><body><!-- nav' ||
           chr(10) || 'boilerplate --><p>' || text || '</p>' ||
           repeat('<a href="/l">link</a>', (doc_id % 4)::INT) ||
           '<div>Tail &amp; footer&nbsp;&lt;end&gt;</div></body></html>'
             AS html
           FROM documents),
         c AS (SELECT doc_id, html,
           trim(regexp_replace(
             replace(replace(replace(replace(replace(replace(
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                 html,
                 '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
                 '(?is)<style[^>]*>.*?</style>', ' ', 'g'),
                 '(?s)<!--.*?-->', ' ', 'g'),
                 '(?s)<[^>]+>', ' ', 'g'),
               '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
               '&#39;', ''''), '&amp;', '&'),
             '\s+', ' ', 'g')) AS clean
           FROM h)
         SELECT doc_id,
           regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
           len(regexp_extract_all(html, '(?i)<a[\s>]'))::BIGINT AS n_links,
           length(clean)::BIGINT AS clean_len,
           md5(clean) AS clean_fp
         FROM c"""

  lazy val rows: Seq[Row] = Seq(
    Row("pii_scrub", (s, dir) =>
      graft.pipeline.Pipeline.piiScrub(Tables.documents(s, dir),
        "doc_id", "text"), {
      val email = graft.pipeline.Pipeline.emailPattern
      val ip = graft.pipeline.Pipeline.ipv4Pattern
      s"""SELECT doc_id,
         len(regexp_extract_all(text, '$email')) AS n_emails,
         len(regexp_extract_all(text, '$ip')) AS n_ipv4,
         md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'),
             '$ip', '<IP>', 'g')) AS scrub_fp
         FROM documents"""
    }),

    Row("html_extract", (s, dir) => {
      // HTML → training-text extraction (the web-corpus cleaning step
      // before quality/dedup): script/style/comment blocks dropped
      // wholesale (their content is code — tag-stripping alone leaks
      // it), remaining tags to spaces, prose entities decoded (&amp;
      // LAST — the double-decode ordering bug, pinned), whitespace
      // collapsed. Every step is a codegen'd string expression on the
      // scan — no UDF, no shuffle. The page fixture wraps each doc in
      // deterministic markup built identically in both engines:
      // mixed-case tags, a script body with stray '<', doc_id%4
      // anchors, entity-laden footer — so the md5'd cleaned text
      // hash-checks the full contract, not just the happy path.
      val d = Tables.documents(s, dir)
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title><SCRIPT type=\"text/javascript\">var x = 1 " +
          "&amp;&amp; 2;\nif (x < 3) { x = 4; }</SCRIPT>" +
          "<style>p { color: red; }</style></head><body><!-- nav\n" +
          "boilerplate --><p>"),
        col("text"),
        lit("</p>"),
        expr("repeat('<a href=\"/l\">link</a>', cast(doc_id % 4 as int))"),
        lit("<div>Tail &amp; footer&nbsp;&lt;end&gt;</div></body></html>"))
      graft.textops.Html.extract(
        d.select(col("doc_id"), html.as("html")), "doc_id", "html")
    },
      htmlExtractOracle),

    Row("html_extract_main", (s, dir) => {
      // MAIN-content selection on top of html_extract's cleaning —
      // the justext core: block segmentation on block-level tags +
      // the (minWords, link-density) keep rule, all integer
      // arithmetic. The page fixture plants the three boilerplate
      // shapes a real page carries around its prose: a nav bar (3
      // words, 100% linked), a link-farm listing (12 words, 100%
      // linked — length alone would keep it), and an entity-laden
      // footer (3 words); plus a SECOND prose block with an inline
      // link at 25% density that must be KEPT (the rule is a
      // density cut, not a no-links cut). The md5'd main text
      // hash-checks that exactly the prose survives.
      val d = Tables.documents(s, dir)
      graft.textops.Html.extractMain(
        d.select(col("doc_id"), htmlFixturePage.as("html")), "doc_id", "html",
        minWords = 5, maxLinkPct = 30)
    },
      htmlExtractMainOracle),

    Row("sql_html_extract", (s, dir) => {
      // SQL front door for the HTML cleaner: html_clean(...) is the
      // composed extraction expression built by the SAME Column
      // builder the DataFrame operator uses (eager bridge — cannot
      // drift); same fixture page, same columns, same oracle as
      // html_extract.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH h AS (SELECT doc_id,
                 concat('<html><head><title>Doc ', cast(doc_id AS STRING),
                   '</title><SCRIPT type="text/javascript">var x = 1 &amp;&amp; 2;\nif (x < 3) { x = 4; }</SCRIPT>',
                   '<style>p { color: red; }</style></head><body><!-- nav\nboilerplate --><p>',
                   text, '</p>',
                   repeat('<a href="/l">link</a>', cast(doc_id % 4 AS INT)),
                   '<div>Tail &amp; footer&nbsp;&lt;end&gt;</div></body></html>') AS html
                 FROM documents_v)
               SELECT doc_id,
                 regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1) AS title,
                 cast(size(regexp_extract_all(html, '(?i)<a[\\s>]', 0)) AS BIGINT) AS n_links,
                 cast(length(clean) AS BIGINT) AS clean_len,
                 md5(clean) AS clean_fp
               FROM (SELECT doc_id, html, html_clean(html) AS clean FROM h)""")
    },
      // the SQL front door builds the same page and calls the composed
      // html_clean(...) expression — identical decision, same oracle
      htmlExtractOracle),

    Row("sql_html_extract_main", (s, dir) => {
      // SQL front door for the MAIN-content selector: html_main(...)
      // is the composed justext-core expression (same eager-bridge
      // builder as the DataFrame operator — cannot drift); same
      // fixture page as html_extract_main, trimmed to the main-text
      // columns a SQL user asks for.
      GraftFunctions.register(s)
      Tables.documents(s, dir).createOrReplaceTempView("documents_v")
      s.sql("""WITH h AS (SELECT doc_id,
                 concat('<html><head><title>Doc ', cast(doc_id AS STRING),
                   '</title><script>var nav = 1 &amp;&amp; 2;</script>',
                   '<style>a { color: blue; }</style></head><body>',
                   '<nav><a href="/">Home</a> <a href="/about">About</a> ',
                   '<a href="/contact">Contact</a></nav><p>', text,
                   '</p><p>Read the full guide at <a href="/guide">the ',
                   'documentation portal</a> for complete details today</p><div>',
                   repeat('<a href="/deal">hot deal item</a> ', 4),
                   '</div><footer>Copyright &amp; terms</footer></body></html>') AS html
                 FROM documents_v)
               SELECT doc_id,
                 cast(length(main) AS BIGINT) AS main_len,
                 md5(main) AS main_fp
               FROM (SELECT doc_id, html_main(html) AS main FROM h)""")
    },
      // the SQL front door computes the same main text on the same page
      // — its oracle is the main oracle trimmed to the main-text columns
      s"""WITH vbase AS ($htmlExtractMainOracle)
         SELECT doc_id, main_len, main_fp FROM vbase"""),

    Row("seq_pack", (s, dir) =>
      // global concat-then-chunk packing; distributed two-pass prefix
      // sum (range buckets + broadcast base offsets), no
      // single-partition window over the data
      graft.pipeline.Pipeline.seqPack(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048),
      // the distributed two-pass prefix sum equals this single global
      // window by construction (base + within-bucket prefix telescopes)
      s"""WITH $duckSeqPackCtes
         SELECT doc_id, n_tokens, pack_id, pack_offset FROM packed"""),

    Row("pack_manifest", (s, dir) =>
      // the per-pack reader view: member doc ids + attention-boundary
      // offsets as deterministic CSV, one combinable agg over seq_pack
      graft.pipeline.Pipeline.packManifest(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048),
      // the per-pack reader view on the shared packing CTEs: member
      // offsets/ids as CSV ordered by (offset, doc_id) — the same
      // total order Spark's sorted struct array produces
      s"""WITH $duckSeqPackCtes
         SELECT pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
           string_agg(pack_offset::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS offsets_csv,
           string_agg(doc_id::VARCHAR, ','
             ORDER BY pack_offset, doc_id) AS doc_ids_csv
         FROM packed GROUP BY pack_id"""),

    Row("embedding_profile", (s, dir) =>
      // the embedding-column datasheet: per-label counts, dim, norm
      // distribution — one scan + one label-keyed agg
      graft.simops.Embed.profile(Tables.embeddings(s, dir),
        "embedding", "label"),
      // norm = sqrt of the same sequential double dot the engine's
      // kernel computes; exact interpolating median (q_quantile /
      // corpus_profile precedent)
      """WITH v AS (SELECT label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vv
           FROM embeddings),
         n AS (SELECT label, len(vv) AS d,
           sqrt(list_sum(list_transform(list_zip(vv, vv),
             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))) AS nrm
           FROM v)
         SELECT label, count(*) AS n_vecs, max(d) AS dim,
           round(avg(nrm), 6) AS mean_norm,
           round(quantile_cont(nrm, 0.5), 6) AS p50_norm
         FROM n GROUP BY label"""),

    Row("corpus_shuffle", (s, dir) =>
      // deterministic shuffle-before-pack: same distributed prefix sum
      // as seq_pack, ordered by a reproducible md5 shuffle key (doc_id
      // tie-break) instead of the id
      graft.pipeline.Pipeline.corpusShuffle(Tables.documents(s, dir),
        "doc_id", "text", budget = 2048, seed = "graft-r4"),
      // same single-global-window statement as seq_pack, ordered by the
      // engine-portable md5 shuffle key (hex -> bigint via the strpos
      // fold, as in sample_stratified), doc_id tie-break
      """WITH k AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5('graft-r4-' || doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT AS shuffle_key,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         p AS (SELECT doc_id, shuffle_key, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY shuffle_key, doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM k)
         SELECT doc_id, shuffle_key, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM p"""),

    Row("sample_stratified", (s, dir) =>
      graft.pipeline.Pipeline.sampleStratified(Tables.documents(s, dir),
        "doc_id", "lang",
        pctByStratum = Map("en" -> 80, "zh" -> 50), defaultPct = 25),
      """WITH b AS (SELECT doc_id, lang,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS bucket
           FROM documents)
         SELECT doc_id, lang, bucket FROM b
         WHERE bucket < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50
                        ELSE 25 END"""),

    Row("sample_mixture", (s, dir) =>
      // token-share domain mixing: output token mass targets
      // en:zh:fr:es = 6:2:1:1, German drops (weight 0); rates are
      // computed from the corpus's own token counts in-plan
      graft.pipeline.Pipeline.sampleMixture(Tables.documents(s, dir),
        "doc_id", "lang", "text",
        weights = Map("en" -> 6.0, "zh" -> 2.0, "fr" -> 1.0, "es" -> 1.0)),
      // replays Pipeline.sampleMixture(en 6, zh 2, fr 1, es 1, de 0):
      // per-stratum token sums, in-data weight normalization,
      // T_out = min(T_s/share_s), basis-point keep rates, md5 draw at
      // mod 10000 — the identical double arithmetic in the same order
      """WITH b AS (SELECT doc_id, lang,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         sw AS (SELECT lang, sum(n_tokens) AS ts,
               CASE lang WHEN 'en' THEN 6.0 WHEN 'zh' THEN 2.0
                         WHEN 'fr' THEN 1.0 WHEN 'es' THEN 1.0
                         ELSE 0.0 END AS w
             FROM b GROUP BY lang),
         sf AS (SELECT lang, ts, w FROM sw WHERE w > 0),
         ws AS (SELECT sum(w) AS wsum FROM sf),
         sh AS (SELECT lang, ts, w / ws.wsum AS share FROM sf, ws),
         t0 AS (SELECT min(ts / share) AS tout FROM sh),
         r AS (SELECT lang,
               CAST(floor(share * t0.tout / ts * 10000 + 1e-9) AS BIGINT) AS keep
             FROM sh, t0)
         SELECT b.doc_id, b.lang, b.n_tokens
         FROM b JOIN r USING (lang)
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(b.doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 < r.keep"""),

    Row("sample_temperature", (s, dir) =>
      // temperature-scaled mixture (mT5 rule, τ=2): target shares
      // (T_s/ΣT)^(1/τ) renormalized, derived from the corpus's own
      // per-source token mass — low-resource sources upsample, the
      // head never drowns; same T_out/basis-point/md5 machinery as
      // sample_mixture, corpus never shuffles
      graft.pipeline.Pipeline.sampleTemperature(Tables.documents(s, dir),
        "doc_id", "source", "text", temperature = 2.0),
      // replays Pipeline.sampleTemperature(source, τ=2): per-source
      // token mass, pow(share, 1/τ) renormalization, T_out reduction,
      // basis-point keep rates, md5 draw — identical double arithmetic
      // in the same order
      """WITH b AS (SELECT doc_id, source,
           len(list_filter(string_split_regex(text, '\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM documents),
         s AS (SELECT source, sum(n_tokens) AS ts FROM b GROUP BY source),
         tt AS (SELECT sum(ts) AS tot FROM s),
         pw AS (SELECT source, ts, pow(ts / tt.tot, 0.5) AS pw FROM s, tt),
         ps AS (SELECT sum(pw) AS psum FROM pw),
         sh AS (SELECT source, ts, pw / ps.psum AS share FROM pw, ps),
         t0 AS (SELECT min(ts / share) AS tout FROM sh),
         r AS (SELECT source,
               CAST(floor(share * t0.tout / ts * 10000 + 1e-9) AS BIGINT) AS keep
             FROM sh, t0)
         SELECT b.doc_id, b.source, b.n_tokens
         FROM b JOIN r USING (source)
         WHERE list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(b.doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 10000 < r.keep"""),

    Row("sample_quality_tiers", (s, dir) =>
      // quality-weighted curriculum mix: quartile tiers from ONE
      // bounded-memory approx_percentile agg (never a global-window
      // ntile), md5 keep-draw upsampling the top of the distribution
      // (5/20/50/90% by tier)
      graft.pipeline.Pipeline.sampleQualityTiers(Tables.documents(s, dir),
        "doc_id", "text", tiers = 4,
        pctByTier = Map(1 -> 5, 2 -> 20, 3 -> 50, 4 -> 90)),
      // quartile thresholds replayed as explicit rank selection (the
      // corpus_profile_approx discrete-quantile convention: value at
      // 1-based rank ceil(p·n)), tier = 1 + #{thresholds strictly
      // below}, then the shared md5-bucket keep-draw
      s"""WITH qb AS (SELECT doc_id, $duckQualityParts FROM documents),
         q AS (SELECT doc_id, $duckQualityFromParts AS quality FROM qb),
         r AS (SELECT quality, row_number() OVER (ORDER BY quality) AS rn,
               count(*) OVER () AS n FROM q),
         t AS (SELECT
               max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
                   THEN quality END) AS t1,
               max(CASE WHEN rn = greatest(CAST(ceil(0.5 * n) AS BIGINT), 1)
                   THEN quality END) AS t2,
               max(CASE WHEN rn = greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
                   THEN quality END) AS t3
             FROM r),
         b AS (SELECT doc_id, quality,
               1 + (quality > t.t1)::INT + (quality > t.t2)::INT
                 + (quality > t.t3)::INT AS tier,
               list_sum(list_transform(generate_series(1, 15),
                 p -> ((strpos('0123456789abcdef',
                        substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                       << (4 * (15 - p)))))::BIGINT % 100 AS bucket
             FROM q, t)
         SELECT doc_id, quality, tier, bucket FROM b
         WHERE bucket < CASE tier WHEN 1 THEN 5 WHEN 2 THEN 20
                        WHEN 3 THEN 50 ELSE 90 END"""),

    Row("sample_ppl_buckets", (s, dir) =>
      // CCNet head/middle/tail perplexity buckets: per-doc fluency
      // under the corpus's own bigram LM (lm_score), quartile-boundary
      // buckets from ONE percentile_approx scalar (head = most
      // fluent), 90/50/10% md5 keep-draws — the model-based-quality
      // curriculum beside the heuristic tiers
      graft.pipeline.Pipeline.samplePerplexityBuckets(
        Tables.documents(s, dir), "doc_id", "text"),
      // the lm_score CTE chain feeding the quality_tiers conventions:
      // quartile thresholds as explicit rank selection (value at
      // 1-based rank ceil(p·n) — ties safe: the VALUE at a sorted
      // position is deterministic), head/middle/tail by strict >
      // compares on the 6dp score, then the shared md5-bucket draw
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS bg, w[i] AS w1
                FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 1)) AS i
                      FROM toks WHERE len(w) >= 2)),
         c12 AS (SELECT bg, count(*) AS c12 FROM bg GROUP BY 1),
         uni AS (SELECT unnest(w) AS tok FROM toks),
         c1 AS (SELECT tok, count(*) AS c1 FROM uni GROUP BY 1),
         v AS (SELECT count(DISTINCT tok) AS vv FROM uni),
         lm AS (SELECT doc_id, count(*) AS n_bigrams,
           round(avg(ln((c12.c12 + 1.0) / (c1.c1 + v.vv))), 6) AS avg_logp
           FROM bg JOIN c12 USING (bg) JOIN c1 ON c1.tok = bg.w1, v
           GROUP BY doc_id),
         r AS (SELECT avg_logp, row_number() OVER (ORDER BY avg_logp) AS rn,
               count(*) OVER () AS n FROM lm),
         t AS (SELECT
               max(CASE WHEN rn = greatest(CAST(ceil(0.25 * n) AS BIGINT), 1)
                   THEN avg_logp END) AS t1,
               max(CASE WHEN rn = greatest(CAST(ceil(0.75 * n) AS BIGINT), 1)
                   THEN avg_logp END) AS t3
             FROM r),
         b AS (SELECT doc_id, n_bigrams, avg_logp,
               CASE WHEN avg_logp > t.t3 THEN 'head'
                    WHEN avg_logp > t.t1 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket,
               list_sum(list_transform(generate_series(1, 15),
                 p -> ((strpos('0123456789abcdef',
                        substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                       << (4 * (15 - p)))))::BIGINT % 100 AS bucket
             FROM lm, t)
         SELECT doc_id, n_bigrams, avg_logp, ppl_bucket, bucket FROM b
         WHERE bucket < CASE ppl_bucket WHEN 'head' THEN 90
                        WHEN 'middle' THEN 50 ELSE 10 END"""),

    Row("corpus_clean", (s, dir) =>
      // the whole corpus-prep pipeline composed in one DAG: quality
      // gate -> exact dedup -> stratified sample -> sequence packing
      graft.pipeline.Pipeline.corpusClean(Tables.documents(s, dir),
        "doc_id", "text", "lang", minQuality = 0.3,
        pctByStratum = Map("en" -> 80, "zh" -> 50), defaultPct = 25,
        budget = 2048),
      s"""WITH qb AS (SELECT doc_id, lang, text, $duckQualityParts FROM documents),
         q AS (SELECT doc_id, lang, text, $duckQualityFromParts AS quality FROM qb),
         g AS (SELECT * FROM q WHERE quality >= 0.3),
         d AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn FROM g) WHERE rn = 1),
         sm AS (SELECT * FROM d WHERE
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100
           < CASE lang WHEN 'en' THEN 80 WHEN 'zh' THEN 50 ELSE 25 END),
         b AS (SELECT doc_id, lang, quality,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM sm),
         p AS (SELECT doc_id, lang, quality, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM b)
         SELECT doc_id, lang, quality, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM p"""),

    Row("corpus_clean_near", (s, dir) =>
      // gate -> exact dedup -> MinHash near-dedup in one DAG (greedy
      // smaller-id-wins drop rule; closure form stays dedup_resolve)
      graft.pipeline.Pipeline.corpusCleanNear(Tables.documents(s, dir),
        "doc_id", "text", "lang", minQuality = 0.3),
      // same gate + exact-dedup CTEs as corpus_clean (no sampling),
      // then the SHARED minhash pair pipeline replayed over the
      // survivor CTE; a survivor is dropped iff it pairs with a
      // smaller-id survivor (mpairs already has doc_a < doc_b)
      s"""WITH qb AS (SELECT doc_id, lang, text, $duckQualityParts FROM documents),
         q AS (SELECT doc_id, lang, text, $duckQualityFromParts AS quality FROM qb),
         g AS (SELECT * FROM q WHERE quality >= 0.3),
         sdocs AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn FROM g) WHERE rn = 1),
         ${minhashPairCtesFrom("sdocs")}
         SELECT doc_id, lang, quality,
           len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
         FROM sdocs
         WHERE doc_id NOT IN (SELECT doc_b FROM mpairs)"""),

    Row("ingest_clean", (s, dir) => {
      // the daily-ingest pipeline in one DAG: gate the increment, check
      // it against the corpus for exact and near duplicates, emit the
      // composite accept decision (same md5-bucket split as the
      // incremental dedup queries)
      val d = Tables.documents(s, dir)
      val bucket = graft.util.Sampling.md5Bucket(col("doc_id"))
      graft.pipeline.Pipeline.ingestClean(d.filter(bucket >= 70),
        d.filter(bucket < 70), "doc_id", "text", minQuality = 0.3,
        shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
    },
      // composes the corpus_clean quality gate with BOTH incremental
      // duplicate checks' oracle logic: exact (batch min-id survivor +
      // corpus fingerprint absence, over GATED docs only) and near
      // (the banded-probe chain, incb restricted to gated docs; the
      // boolean only needs pair existence, not the best-match rank)
      s"""WITH $minhashBandedCtes,
         sb AS (SELECT doc_id,
           list_sum(list_transform(generate_series(1, 15),
             p -> ((strpos('0123456789abcdef',
                    substr(md5(doc_id::VARCHAR), p, 1)) - 1)::BIGINT
                   << (4 * (15 - p)))))::BIGINT % 100 AS sbucket
           FROM documents),
         qb AS (SELECT doc_id, $duckQualityParts FROM documents),
         qv AS (SELECT doc_id, $duckQualityFromParts AS quality FROM qb),
         incq AS (SELECT s.doc_id, qv.quality FROM sb s
                  JOIN qv ON qv.doc_id = s.doc_id WHERE s.sbucket >= 70),
         gated AS (SELECT doc_id FROM incq WHERE quality >= 0.3),
         fps AS (SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
           FROM documents),
         keepb AS (SELECT fp, min(f.doc_id) AS keep_id FROM fps f
                   JOIN gated g ON g.doc_id = f.doc_id GROUP BY fp),
         corpfp AS (SELECT DISTINCT f.fp FROM fps f
                    JOIN sb ON sb.doc_id = f.doc_id WHERE sb.sbucket < 70),
         hitx AS (SELECT DISTINCT k.fp FROM keepb k
                  JOIN corpfp c ON c.fp = k.fp),
         exn AS (SELECT f.doc_id,
             (f.doc_id = k.keep_id AND h.fp IS NULL) AS is_new_exact
           FROM fps f JOIN gated g ON g.doc_id = f.doc_id
           JOIN keepb k ON k.fp = f.fp LEFT JOIN hitx h ON h.fp = f.fp),
         incb AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN gated g USING (doc_id)),
         corb AS (SELECT b.doc_id, bnd, bucket FROM banded b
                  JOIN sb USING (doc_id) WHERE sb.sbucket < 70),
         ikeys AS (SELECT DISTINCT bnd, bucket FROM incb),
         mat AS (SELECT c.doc_id, c.bnd, c.bucket FROM corb c
                 JOIN ikeys USING (bnd, bucket)),
         mcap AS (SELECT doc_id, bnd, bucket FROM mat
                  QUALIFY count(*) OVER (PARTITION BY bnd, bucket) <= 64),
         cand AS (SELECT DISTINCT i.doc_id AS inc_id, m.doc_id AS dup_id
                  FROM incb i JOIN mcap m USING (bnd, bucket)),
         isz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
         iiv AS (SELECT cand.inc_id, cand.dup_id, count(*) AS inter
                 FROM cand JOIN sh x ON x.doc_id = cand.inc_id
                 JOIN sh y ON y.doc_id = cand.dup_id AND y.shingle = x.shingle
                 GROUP BY 1, 2),
         ver AS (SELECT DISTINCT iiv.inc_id FROM iiv
           JOIN isz sx ON sx.doc_id = iiv.inc_id
           JOIN isz sy ON sy.doc_id = iiv.dup_id
           WHERE round(iiv.inter::DOUBLE / (sx.n_sh + sy.n_sh - iiv.inter), 6) >= 0.5),
         nearn AS (SELECT g.doc_id, (v.inc_id IS NULL) AS is_new_near
                   FROM gated g LEFT JOIN ver v ON v.inc_id = g.doc_id)
         SELECT i.doc_id, i.quality,
           COALESCE(e.is_new_exact, false) AS is_new_exact,
           COALESCE(n.is_new_near, false) AS is_new_near,
           (i.quality >= 0.3 AND COALESCE(e.is_new_exact, false)
             AND COALESCE(n.is_new_near, false)) AS accepted
         FROM incq i LEFT JOIN exn e ON e.doc_id = i.doc_id
         LEFT JOIN nearn n ON n.doc_id = i.doc_id"""),

    Row("decontaminate", (s, dir) => {
      // benchmark-leak check: docs 0-19 stand in for an eval suite;
      // corpus docs sharing any 5-gram with them are flagged
      val d = Tables.documents(s, dir)
      graft.pipeline.Pipeline.decontaminate(d,
        d.filter(col("doc_id") < 20), "doc_id", "text",
        shingleSize = 5, minShared = 1)
    },
      // joins on shingle STRINGS where Spark joins on xxhash64 of the
      // same strings — counts agree up to hash collisions (P ≈ n²/2⁶⁴,
      // the contract ngram_jaccard's oracle already uses)
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 5 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                     w[i+3] || ' ' || w[i+4] END AS s FROM idx),
         ph AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20)
         SELECT c.doc_id, count(DISTINCT c.s) AS n_shared
         FROM sh c JOIN ph ON ph.s = c.s
         WHERE c.doc_id >= 20
         GROUP BY 1"""),

    Row("decontaminate_pairs", (s, dir) => {
      // the provenance report behind the gate: which probe doc leaked
      // into which corpus doc, with the distinct shared-5-gram count
      val d = Tables.documents(s, dir)
      graft.pipeline.Pipeline.decontaminatePairs(d,
        d.filter(col("doc_id") < 20), "doc_id", "text",
        shingleSize = 5, minShared = 1)
    },
      // the provenance form: same shingle/probe definitions, grouped
      // by (corpus doc, probe doc) instead of corpus doc alone
      """WITH toks AS (SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\s+'), x -> x <> '') AS w
           FROM documents),
         idx AS (SELECT doc_id, w,
           unnest(generate_series(1, greatest(len(w) - 4, 1))) AS i FROM toks),
         sh AS (SELECT DISTINCT doc_id,
           CASE WHEN len(w) < 5 THEN array_to_string(w, ' ')
                ELSE w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                     w[i+3] || ' ' || w[i+4] END AS s FROM idx),
         ph AS (SELECT DISTINCT doc_id AS probe_id, s FROM sh WHERE doc_id < 20)
         SELECT c.doc_id, ph.probe_id, count(DISTINCT c.s) AS n_shared
         FROM sh c JOIN ph ON ph.s = c.s
         WHERE c.doc_id >= 20
         GROUP BY 1, 2""")
  )
}
