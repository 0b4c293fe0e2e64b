package graft
package registry

import graft.sources.Tables
import org.apache.spark.sql.functions._
import Shared._
import Stores._

/** Format round-trips through the sinks and sources (tar shards,
  * WARC/WET, JSONL) and the crawl-clean composition over WARC records.
  */
private[graft] object IoRows {

  lazy val rows: Seq[Row] = Seq(
    Row("tar_shards_roundtrip", (s, dir) => {
      // the WebDataset contract: each sample's members as consecutive
      // tar entries ({key}.txt + {key}.cls here — the text/label
      // pairing every multimodal trainer reads), one .tar shard per
      // partition, samples grouped by a doc-keyed repartition +
      // within-partition sort. The oracle hash checks the byte-level
      // round-trip of BOTH members per doc
      val d = Tables.documents(s, dir)
      val members = d.select(col("doc_id"),
          explode(map(lit("txt"), col("text"), lit("cls"), col("lang"))))
        .select(col("doc_id"),
          concat_ws(".", col("doc_id"), col("key")).as("name"),
          encode(col("value"), "UTF-8").as("content"))
        .repartition(col("doc_id"))
        .sortWithinPartitions(col("doc_id"), col("name"))
      val tmp = scratchDir("graft_tar_rt")
      graft.sources.Tar.writeTarShards(members, tmp)
      graft.sources.Tar.read(s, tmp).select(
        regexp_extract(col("name"), "^(\\d+)\\.", 1)
          .cast("long").as("doc_id"),
        regexp_extract(col("name"), "\\.(\\w+)$", 1).as("ext"),
        col("size"),
        col("content").cast("string").as("content"))
    },
      // both members per doc must come back byte-identical (DuckDB
      // strlen is bytes — the tar size field)
      """SELECT doc_id, 'txt' AS ext, strlen(text)::BIGINT AS size,
           text AS content FROM documents
         UNION ALL
         SELECT doc_id, 'cls', strlen(lang)::BIGINT, lang
         FROM documents"""),

    Row("warc_wet_roundtrip", (s, dir) => {
      // the crawl-ingest front door: documents -> WET conversion
      // records (WARC/1.0, the public web-crawl text-distribution
      // format) -> .warc shards -> streamed per-file parse back.
      // The oracle hash checks the round-trip: any header/payload
      // framing bug, lossy byte handling, or Content-Length drift
      // would mismatch against the parquet original
      val d = Tables.documents(s, dir).select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        col("text"))
      val tmp = scratchDir("graft_warc_rt")
      graft.sources.Warc.writeWet(d, tmp)
      graft.sources.Warc.read(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("warc_type"), col("target_uri"), col("content_length"),
        col("content").cast("string").as("text"))
    },
      // the Spark side went parquet -> WET records -> .warc shards
      // -> streamed parse; a lossless round-trip must reproduce the
      // text and its UTF-8 byte count (DuckDB strlen is bytes)
      """SELECT doc_id, 'conversion' AS warc_type,
           'http://graft.invalid/doc/' || doc_id AS target_uri,
           strlen(text)::BIGINT AS content_length, text
         FROM documents"""),

    Row("warc_wet_gz_roundtrip", (s, dir) => {
      // the same WET round-trip through the crawls' ACTUAL shard
      // layout: .warc.gz with one gzip member per record (member
      // boundary = record boundary — offset indexes give record
      // random access). Shares warc_wet_roundtrip's oracle
      val d = Tables.documents(s, dir).select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        col("text"))
      val tmp = scratchDir("graft_warcgz_rt")
      graft.sources.Warc.writeWet(d, tmp, gzipPerRecord = true)
      graft.sources.Warc.read(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("warc_type"), col("target_uri"), col("content_length"),
        col("content").cast("string").as("text"))
    },
      // identical contract through the member-per-record gzip layout
      """SELECT doc_id, 'conversion' AS warc_type,
           'http://graft.invalid/doc/' || doc_id AS target_uri,
           strlen(text)::BIGINT AS content_length, text
         FROM documents"""),

    Row("warc_response_roundtrip", (s, dir) => {
      // the RAW-crawl layer one step before WET: documents -> WARC
      // `response` records whose payload is a full HTTP envelope
      // (status line + ordered headers + Content-Length + body) ->
      // .warc shards -> streamed parse WITH the envelope split in the
      // same pass. Adversarial by construction: the body carries WARC
      // framing AND a fake inner HTTP envelope (the split must stop
      // at the FIRST header/body separator), and the target URI is
      // non-ASCII (the UTF-8 header-decode fix, hash-gated here)
      val d = Tables.documents(s, dir).select(
        concat(lit("http://graft.invalid/café/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/html; charset=utf-8").as("value"))).as("http_headers"),
        concat(lit("WARC/1.0\r\nContent-Length: 0\r\n\r\n" +
          "HTTP/1.1 500 fake\r\n\r\n"), col("text"))
          .cast("binary").as("body"))
      val tmp = scratchDir("graft_warcresp_rt")
      graft.sources.Warc.writeResponse(d, tmp)
      graft.sources.Warc.readResponses(s, tmp).select(
        regexp_extract(col("target_uri"), "/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("target_uri"), col("status_line"), col("http_status"),
        element_at(col("http_headers"), 1).getField("value")
          .as("content_type"),
        // the writer-appended envelope Content-Length (2nd header:
        // Content-Type is the only caller header), checked
        // numerically against the actual body span
        element_at(col("http_headers"), 2).getField("value")
          .cast("long").as("http_content_length"),
        col("body_length"),
        col("body").cast("string").as("body_text"))
    },
      // the Spark side went parquet -> HTTP envelopes inside WARC
      // response records -> shards -> streamed parse + envelope
      // split. The oracle reconstructs every surfaced column from the
      // documents table: the adversarial planted prefix (WARC framing
      // + a fake inner envelope) must ride through as BODY bytes, the
      // writer's envelope Content-Length must equal the body span,
      // and the non-ASCII URI must round-trip exactly
      """WITH p AS (SELECT 'WARC/1.0' || chr(13) || chr(10) ||
             'Content-Length: 0' || chr(13) || chr(10) || chr(13) || chr(10) ||
             'HTTP/1.1 500 fake' || chr(13) || chr(10) || chr(13) || chr(10)
             AS prefix)
         SELECT doc_id,
           'http://graft.invalid/café/' || doc_id AS target_uri,
           'HTTP/1.1 200 OK' AS status_line,
           200 AS http_status,
           'text/html; charset=utf-8' AS content_type,
           strlen(prefix || text)::BIGINT AS http_content_length,
           strlen(prefix || text)::BIGINT AS body_length,
           prefix || text AS body_text
         FROM documents, p"""),

    Row("warc_response_extract", (s, dir) => {
      // the COMPLETE raw-crawl -> clean-text chain: documents wrapped
      // in the html_extract_main fixture page -> WARC response
      // records (HTTP envelope) -> shards -> envelope split -> justext
      // main-content extraction on the recovered body. Shares
      // html_extract_main's oracle verbatim — the crawl hop must be
      // invisible to the extractor
      val d = Tables.documents(s, dir)
      val rows = d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/html; charset=utf-8").as("value"))).as("http_headers"),
        htmlFixturePage.cast("binary").as("body"))
      val tmp = scratchDir("graft_warcresp_ex")
      graft.sources.Warc.writeResponse(rows, tmp)
      val resp = graft.sources.Warc.readResponses(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("body").cast("string").as("html"))
      graft.textops.Html.extractMain(resp, "doc_id", "html",
        minWords = 5, maxLinkPct = 30)
    },
      htmlExtractMainOracle),

    Row("warc_digest_dedup", (s, dir) => {
      // digest-keyed exact dedup AT INGEST: the step public-crawl
      // consumers run on the WARC-Payload-Digest HEADER (sha1:BASE32
      // of the HTTP body, stamped by the writer) before any
      // text-level pass — the dedup reads the parsed header only,
      // never re-hashing payload bytes. The fixture plants exact-byte
      // duplicates (every 7th doc re-crawled under a new id) and the
      // shards open with warcinfo preambles that readResponses must
      // skip by type. Oracle groups the same crawl by raw text —
      // byte-equality ⇔ digest-equality
      val d = Tables.documents(s, dir)
      val crawl = d.select(col("doc_id"), col("text"))
        .unionAll(d.filter(col("doc_id") % 7 === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            col("text")))
      val rows = crawl.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/plain").as("value"))).as("http_headers"),
        col("text").cast("binary").as("body"))
      val tmp = scratchDir("graft_warc_digest")
      graft.sources.Warc.writeResponse(rows, tmp, warcinfo = true)
      graft.sources.Warc.readResponses(s, tmp)
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"), col("payload_digest"))
        .groupBy(col("payload_digest"))
        .agg(min(col("doc_id")).as("keep_id"),
          count(lit(1)).as("dup_count"))
        .select(col("keep_id"), col("dup_count"))
    },
      // the engine dedups on the parsed WARC-Payload-Digest header;
      // the oracle replays the same decision on raw text equality —
      // byte-equal bodies ⇔ equal sha1 digests, so the groups match
      // without re-deriving base32(sha1) in SQL (the digest ENCODING
      // itself is pinned by WarcSpec against RFC 4648's own vectors)
      """WITH crawl AS (
           SELECT doc_id, text FROM documents
           UNION ALL
           SELECT doc_id + 10000000, text FROM documents
           WHERE doc_id % 7 = 0)
         SELECT min(doc_id) AS keep_id, count(*) AS dup_count
         FROM crawl GROUP BY text"""),

    Row("warc_types", (s, dir) => {
      // the mixed raw-crawl record surface: response + request shards,
      // each opening with a warcinfo preamble, all surfaced UNSPLIT by
      // Warc.read. Counts pin the type mix (4 + 2 warcinfo records
      // from the fixed repartition) AND digest presence: responses
      // carry sha1 payload digests, requests and warcinfo do not
      val d = Tables.documents(s, dir)
      val respDir = scratchDir("graft_warc_types_rs")
      val reqDir = scratchDir("graft_warc_types_rq")
      graft.sources.Warc.writeResponse(d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/plain").as("value"))).as("http_headers"),
        col("text").cast("binary").as("body")).repartition(4),
        respDir, warcinfo = true)
      graft.sources.Warc.writeRequest(d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        concat(lit("GET /doc/"), col("doc_id"), lit(" HTTP/1.1"))
          .as("request_line"),
        array(struct(lit("Host").as("name"),
          lit("graft.invalid").as("value"))).as("http_headers"))
        .repartition(2), reqDir, warcinfo = true)
      graft.sources.Warc.read(s, respDir)
        .unionAll(graft.sources.Warc.read(s, reqDir))
        .groupBy(col("warc_type"))
        .agg(count(lit(1)).as("n"),
          count(col("payload_digest")).as("n_digest"))
    },
      // one warcinfo preamble per NON-EMPTY shard (writeShards skips
      // empty partitions entirely), so the expected count derives from
      // the doc count instead of hardcoding 4+2: round-robin
      // repartition(k) leaves no empty shard while every scan
      // partition carries >= k rows (true at every gate scale — the
      // single-file gate tables scan as 1-2 partitions of hundreds of
      // rows), and below k docs exactly n shards are non-empty. Only
      // responses carry payload digests
      """SELECT 'response' AS warc_type, count(*) AS n,
           count(*) AS n_digest FROM documents
         UNION ALL
         SELECT 'request', count(*), 0::BIGINT FROM documents
         UNION ALL
         SELECT 'warcinfo',
           LEAST(4, count(*)) + LEAST(2, count(*)), 0::BIGINT
         FROM documents"""),

    Row("crawl_clean", (s, dir) => {
      // the COMPLETE crawl->training-data DAG in ONE registered row:
      // documents wrapped in the html_extract_main fixture page ->
      // WARC response shards (HTTP envelopes, payload digests,
      // warcinfo preambles) -> envelope split -> justext main-content
      // extraction -> quality gate -> exact dedup -> MinHash
      // near-dedup -> sequence packing. The oracle chains the
      // per-stage oracles' CTEs over the same fixture; the plan fence
      // (PlanAuditSpec) pins that no hash exchange carries html or
      // extracted text
      val d = Tables.documents(s, dir)
      val rows = d.select(
        concat(lit("http://graft.invalid/doc/"), col("doc_id"))
          .as("target_uri"),
        lit("HTTP/1.1 200 OK").as("status_line"),
        array(struct(lit("Content-Type").as("name"),
          lit("text/html; charset=utf-8").as("value"))).as("http_headers"),
        htmlFixturePage.cast("binary").as("body"))
      val tmp = scratchDir("graft_crawl_clean")
      graft.sources.Warc.writeResponse(rows, tmp, warcinfo = true)
      val resp = graft.sources.Warc.readResponses(s, tmp).select(
        regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
          .cast("long").as("doc_id"),
        col("body").cast("string").as("html"))
      // scratch path scoped by PID (r16 ADVICE): two concurrent
      // sessions on one box (a bench and a verify run) raced on the
      // shared dir — one run's overwrite deleted files the other's
      // in-flight scan was reading. Per-JVM scoping keeps dir growth
      // bounded (overwritten per invocation within a JVM) while
      // making cross-process interference impossible; scratchDir
      // deletes it at JVM exit.
      graft.pipeline.Pipeline.crawlClean(resp, "doc_id", "html",
        minQuality = 0.3, budget = 2048,
        scratchDir = Some(scratchDir(
          s"graft_crawl_clean_ex_${java.lang.ProcessHandle.current().pid()}")))
    },
      // the per-stage oracles chained end to end: the shared
      // html_extract_main fixture+extraction CTEs (the WARC hop is
      // checked lossless by warc_response_roundtrip/_extract), then
      // corpus_clean_near's gate + exact-dedup + minhash-pair CTEs
      // over the EXTRACTED text, then corpus_clean's prefix-sum pack
      // replay over the survivors
      s"""WITH $htmlMainCtes,
         cw AS (SELECT doc_id, main AS text FROM m),
         cqb AS (SELECT doc_id, text, $duckQualityParts FROM cw),
         cq AS (SELECT doc_id, text,
             $duckQualityFromParts AS quality FROM cqb),
         cg AS (SELECT * FROM cq WHERE quality >= 0.3),
         sdocs AS (SELECT * FROM (SELECT *, row_number() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id) AS rn FROM cg) WHERE rn = 1),
         ${minhashPairCtesFrom("sdocs")},
         surv AS (SELECT doc_id, quality,
             len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))::BIGINT AS n_tokens
           FROM sdocs
           WHERE doc_id NOT IN (SELECT doc_b FROM mpairs)),
         pk AS (SELECT doc_id, quality, n_tokens,
           COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre
           FROM surv)
         SELECT doc_id, quality, n_tokens,
           CAST(pre // 2048 AS BIGINT) AS pack_id,
           CAST(pre % 2048 AS BIGINT) AS pack_offset FROM pk"""),

    Row("jsonl_roundtrip", (s, dir) => {
      // the corpus interchange gate: documents -> JSONL (gzip) -> read
      // back under the explicit schema. Registered so the ORACLE hash
      // checks the round-trip — any lossy escape of newlines/quotes/
      // unicode in text would mismatch against the parquet original
      val d = Tables.documents(s, dir).select(col("doc_id"), col("lang"),
        col("source"), col("n_chars"), col("text"))
      val tmp = scratchDir("graft_jsonl_rt")
      graft.sources.Sinks.writeJsonl(d, tmp)
      graft.sources.Sinks.readJsonl(s, tmp, d.schema)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          col("text"))
    },
      // the Spark side went parquet -> JSONL -> frame; a lossless
      // round-trip must hash-equal the original columns
      """SELECT doc_id, lang, source, n_chars, text FROM documents""")
  )
}
