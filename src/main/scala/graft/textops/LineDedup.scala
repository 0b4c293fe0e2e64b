package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LINE-level deduplication — the C4/MassiveText/RefinedWeb cleaning
  * step that runs BETWEEN document-level near-dedup and span-level
  * reuse detection: web text repeats whole lines (cookie banners,
  * nav bars, footers, share buttons) verbatim within a page and
  * across millions of pages, and line granularity catches exactly the
  * boilerplate that document MinHash (too coarse) and winnow spans
  * (offset-sensitive) both miss.
  *
  * Two standard variants, matching the published pipelines:
  *
  *  - [[dedupLinesIntra]] — WITHIN each document, keep only the first
  *    occurrence of every distinct line (the C4 "discard all but one
  *    of any repeated lines in a page" rule). Pure per-row array
  *    arithmetic: no shuffle, no join — a narrow scan at any corpus
  *    size.
  *  - [[dedupLinesCorpus]] — ACROSS the corpus, a line survives only
  *    at its globally FIRST occurrence (min (doc_id, position)); every
  *    other copy — in the same document or any other — is dropped
  *    (the MassiveText/RefinedWeb "remove duplicated lines across
  *    documents" rule, first-occurrence-wins like the exact-dedup
  *    min-id convention).
  *
  * Scale shape of the corpus variant: line STRINGS never cross an
  * exchange. The exploded frame ships only `(xxhash64(line), doc_id,
  * position)` — 24-byte rows — into ONE combinable min aggregate plus
  * one hash-keyed join; the surviving positions return to the
  * document as a sorted int array on a doc-keyed join, and the
  * cleaned text is rebuilt from the document's OWN line array by
  * position. Equality up to the vanishing xxhash64 collision contract
  * (the novelty_score / decontaminate convention).
  */
object LineDedup {

  /** Deterministic multi-line fixture view: the driver corpus is
    * single-line prose, so the registered line-dedup rows would be
    * vacuous on it (every doc = one unique line, nothing to drop —
    * the embedding_neardup_planted lesson). This view gives every doc
    * newline structure derived from its OWN tokens (lines of
    * `lineLen` tokens), then plants the two duplication modes the
    * operators exist to catch:
    *
    *  - md5 bucket < 20  → the doc gains the GLOBAL boilerplate line
    *    (the cross-document cookie-banner shape);
    *  - md5 bucket >= 80 → the doc's first line is appended again
    *    (the within-document repeated-line shape).
    *
    * Both draws and the line split are integer/md5 arithmetic the
    * DuckDB oracle replays literally.
    */
  def multilineFixture(df: DataFrame, idCol: String, textCol: String,
                       lineLen: Int = 8): DataFrame = {
    require(lineLen >= 1, s"lineLen must be >= 1, got $lineLen")
    val toks = TextOps.tokens(col(textCol))
    val nLines = greatest(ceil(size(toks) / lit(lineLen.toDouble))
      .cast("int"), lit(1))
    val lines0 = transform(sequence(lit(1), nLines),
      g => array_join(slice(toks, (g - 1) * lineLen + 1, lit(lineLen)), " "))
    val bucket = graft.util.Sampling.md5Bucket(col(idCol))
    val planted = concat(lines0,
      when(bucket < 20, array(lit(Boilerplate)))
        .otherwise(array().cast("array<string>")),
      when(bucket >= 80, array(element_at(lines0, 1)))
        .otherwise(array().cast("array<string>")))
    df.select(col(idCol), array_join(planted, "\n").as(textCol))
  }

  /** The planted cross-document boilerplate line. */
  val Boilerplate = "accept cookies to continue"

  /** Within-document line dedup (C4 rule): keep each distinct line's
    * FIRST occurrence, preserve document order. One narrow scan —
    * `array_distinct` IS first-occurrence-keep in encounter order, as
    * one codegen'd hash-set pass. The first cut used the HOF
    * `filter(lines, (x, i) => array_position(lines, x) === i + 1)`,
    * which is O(lines²) per document on the INTERPRETED path
    * (array_position rescans the array per element, and HOF lambda
    * bodies don't codegen — the dsir_buckets kernel lesson): invisible on
    * ~6-line fixture docs, a real per-row tax on thousand-line web
    * pages. The HOF form survives as [[dedupLinesIntraHof]], the
    * equivalence-spec twin. Output:
    * `(doc_id, n_lines, n_kept, text_clean)`.
    */
  def dedupLinesIntra(df: DataFrame, idCol: String,
                      textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = array_distinct(lines)
    graft.util.Par.spread(df).select(
      col(idCol).cast("long").as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("text_clean"))
  }

  /** The original O(n²) HOF form of [[dedupLinesIntra]] — kept ONLY as
    * the equivalence-test twin (the BatchKernels convention). Note the
    * one semantic edge outside real input: a NULL line element drops
    * here (SQL equality never matches NULL) but `array_distinct`
    * keeps one NULL; `split()` never produces NULL elements, so the
    * twins agree on every reachable input.
    */
  private[graft] def dedupLinesIntraHof(df: DataFrame, idCol: String,
                                        textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, (x, i) => array_position(lines, x) === i + 1)
    graft.util.Par.spread(df).select(
      col(idCol).cast("long").as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("text_clean"))
  }

  /** Corpus-wide line dedup (MassiveText/RefinedWeb rule): a line
    * survives only in the document where it FIRST occurs — global
    * min `(doc_id, position)` per distinct line — and only at that
    * position; all other copies anywhere drop.
    *
    * Plan: narrow explode to `(h = xxhash64(line), doc_id, i)`, the
    * owner key PACKED into one long — `doc_id·2²¹ + i` (positions
    * bounded in-plan at 2²¹ lines/doc; numeric order ≡ lexicographic
    * (doc, pos) order) — then ONE combinable `min(packed)` per h.
    * The packing matters twice over: `min(struct(doc_id, i))` is not
    * hash-aggregable, so Catalyst plans a SortAggregate that SORTS
    * every exploded line row on both sides of the exchange (measured:
    * the sort was most of 872s on a 500M-line probe; the packed
    * HashAggregate form runs the same probe in ~90s). And the owner
    * longs ARE the surviving positions — a line survives exactly at
    * its global-min (doc, pos) — so no re-join against the exploded
    * frame is needed at all (the first cut's corpus-line-scale join
    * computed a frame already in hand). Then one doc-keyed collect of
    * the kept-position array and one doc-keyed join back to the
    * corpus, where the cleaned text is rebuilt from the document's
    * own lines by INDEXING the sorted kept positions (O(kept)
    * element_at lookups — never a per-line membership scan).
    * Line strings never shuffle. Output:
    * `(doc_id, n_lines, n_kept, text_clean)` for every input doc (a
    * fully-boilerplate doc keeps 0 lines and an empty `text_clean`).
    */
  def dedupLinesCorpus(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val spread = graft.util.Par.spread(df)
    val lines = split(col(textCol), "\n")
    // 2^21 = 2M lines/doc headroom; ids up to 2^42 before the pack
    // overflows a long. Both guarded IN-PLAN (codegen'd branch, no
    // extra pass) — silent corruption is the alternative.
    val L = 1L << 21
    // NULL doc id = dirty row: passes the assert (isNull disjunct —
    // assert_true also fires on NULL conditions, which would fail the
    // whole job with a misleading overflow message) and packs to a
    // NULL key, filtered before the ownership agg. Such a doc claims
    // no lines and keeps none (n_kept=0) — the RangeJoin
    // dirty-rows-drop convention, not a job abort.
    val guard = assert_true(
      col("doc_id").isNull ||
        (col("_i") < lit(L) && col("doc_id").between(0L, (1L << 42) - 1)),
      lit("dedupLinesCorpus: position >= 2^21 or doc id outside " +
        "[0, 2^42) — the packed owner key would overflow"))
    val ex = spread.select(col(idCol).cast("long").as("doc_id"),
        posexplode(lines).as(Seq("_i", "_ln")))
      .select(xxhash64(col("_ln")).as("_h"),
        when(guard.isNull, col("doc_id") * L + col("_i")).as("_p"))
    val owner = ex.where(col("_p").isNotNull)
      .groupBy(col("_h")).agg(min(col("_p")).as("_p"))
    // integer `div`, never `/` (double quotient rounds above 2^52 —
    // the RangeJoin bucket lesson; _p ranges up to 2^63)
    val keptPos = owner
      .select(expr(s"_p div ${L}L").as("doc_id"),
        (col("_p") % L).cast("int").as("_i"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("_i"))).as("_kp"))
    // rebuild by INDEXING the kept positions (O(kept) element_at
    // lookups), not by filtering the full line array with a per-line
    // array_contains membership scan (O(lines · kept) interpreted) —
    // _kp is already sorted, so the transform preserves document
    // order; a doc with no surviving lines coalesces to the empty
    // array → empty text_clean. HOF twin: [[rebuildByMembershipHof]].
    val keptArr = coalesce(col("_kp"), array().cast("array<int>"))
    spread.select(col(idCol).cast("long").as("doc_id"), lines.as("_lines"))
      .join(keptPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("_lines")).cast("long").as("n_lines"),
        coalesce(size(col("_kp")), lit(0)).cast("long").as("n_kept"),
        array_join(transform(keptArr,
          i => element_at(col("_lines"), i + 1)), "\n").as("text_clean"))
  }

  /** The DAILY-INGEST form of [[dedupLinesCorpus]] — line-granularity
    * dedup at the ingest point (the missing incremental twin beside
    * the exact/minhash/span/image/video/embedding ingest decisions):
    * an incoming document's line survives iff its hash appears
    * NOWHERE in the existing corpus AND this is its first occurrence
    * (global min packed (doc, pos)) within the increment itself —
    * arrival-order-wins, the same convention as every other
    * incremental here.
    *
    * Scale shape (the exactIncremental probe shape): the increment's
    * distinct line hashes BROADCAST against the corpus's line-hash
    * projection — the corpus never shuffles, and only matched hashes
    * (bounded by the increment) come back. Everything else is
    * increment-sized: the packed-long min owner aggregate, the
    * kept-position collect, the doc-keyed rebuild join. Line strings
    * never cross an exchange on either side.
    *
    * Output: `(doc_id, n_lines, n_kept, text_clean)` for every
    * INCOMING doc.
    */
  def dedupLinesIncremental(incoming: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val L = 1L << 21
    // NULL doc id passes the assert and drops (see dedupLinesCorpus)
    val guard = assert_true(
      col("doc_id").isNull ||
        (col("_i") < lit(L) && col("doc_id").between(0L, (1L << 42) - 1)),
      lit("dedupLinesIncremental: position >= 2^21 or doc id outside " +
        "[0, 2^42) — the packed owner key would overflow"))
    val incEx = incoming
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(lines).as(Seq("_i", "_ln")))
      .select(xxhash64(col("_ln")).as("_h"),
        when(guard.isNull, col("doc_id") * L + col("_i")).as("_p"))
    val owner = incEx.where(col("_p").isNotNull)
      .groupBy(col("_h")).agg(min(col("_p")).as("_p"))
    val hit = graft.util.Par.spread(corpus)
      .select(explode(split(col(textCol), "\n")).as("_ln"))
      .select(xxhash64(col("_ln")).as("_h"))
      .join(broadcast(owner.select(col("_h"))), "_h")
      .distinct()
      .withColumn("_in_corpus", lit(true))
    val keptPos = owner.join(broadcast(hit), Seq("_h"), "left")
      .filter(coalesce(!col("_in_corpus"), lit(true)))
      .select(expr(s"_p div ${L}L").as("doc_id"),
        (col("_p") % L).cast("int").as("_i"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("_i"))).as("_kp"))
    val keptArr = coalesce(col("_kp"), array().cast("array<int>"))
    incoming.select(col(idCol).cast("long").as("doc_id"), lines.as("_lines"))
      .join(keptPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("_lines")).cast("long").as("n_lines"),
        coalesce(size(col("_kp")), lit(0)).cast("long").as("n_kept"),
        array_join(transform(keptArr,
          i => element_at(col("_lines"), i + 1)), "\n").as("text_clean"))
  }

  /** [[dedupLinesIncremental]] against a persisted
    * [[graft.dedup.BloomStore]] of distinct corpus LINE hashes — the
    * recrawl-scale form of the line-granularity ingest decision, and
    * the exact regime the sketch was built for: lines ≫ docs, so the
    * increment's distinct-line-hash broadcast is the first thing that
    * stops being trivial as crawls grow. Two things change physically,
    * nothing semantically:
    *
    *  1. the corpus text is never read at all: the verify joins the
    *     store's persisted line-hash column (8 bytes/distinct line,
    *     built once at corpus-ingest time) instead of re-exploding and
    *     re-hashing every corpus document;
    *  2. the membership sketch prefilters the increment's line owners
    *     MAP-SIDE ([[graft.functions.Kernels.bloomContains]]), so the
    *     verify broadcast carries only bloom-POSITIVE line hashes —
    *     O(true boilerplate + fpp·increment lines). No false negatives
    *     (every corpus line is in the sketch), and the verify join
    *     removes false positives, so a line is dropped iff
    *     [[dedupLinesIncremental]] drops it — bit-identical output,
    *     shared oracle.
    */
  def dedupLinesIncrementalBloom(incoming: DataFrame,
                                 store: graft.dedup.BloomStore.Store,
                                 idCol: String, textCol: String): DataFrame = {
    val lines = split(col(textCol), "\n")
    val L = 1L << 21
    val guard = assert_true(
      col("doc_id").isNull ||
        (col("_i") < lit(L) && col("doc_id").between(0L, (1L << 42) - 1)),
      lit("dedupLinesIncrementalBloom: position >= 2^21 or doc id " +
        "outside [0, 2^42) — the packed owner key would overflow"))
    val incEx = incoming
      .select(col(idCol).cast("long").as("doc_id"),
        posexplode(lines).as(Seq("_i", "_ln")))
      .select(xxhash64(col("_ln")).as("_h"),
        when(guard.isNull, col("doc_id") * L + col("_i")).as("_p"))
    val owner = incEx.where(col("_p").isNotNull)
      .groupBy(col("_h")).agg(min(col("_p")).as("_p"))
    // the sketch keys are xxhash64(fingerprint) where fingerprint IS
    // the 64-bit line hash (buildLines) — replay the same double hash
    val cand = owner
      .filter(graft.functions.Kernels.bloomContains(
        xxhash64(col("_h")), store.bloom))
      .select(col("_h"))
    val hit = store.fps.select(col("fingerprint").as("_h"))
      .join(broadcast(cand), "_h")
      .distinct()
      .withColumn("_in_corpus", lit(true))
    val keptPos = owner.join(broadcast(hit), Seq("_h"), "left")
      .filter(coalesce(!col("_in_corpus"), lit(true)))
      .select(expr(s"_p div ${L}L").as("doc_id"),
        (col("_p") % L).cast("int").as("_i"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("_i"))).as("_kp"))
    val keptArr = coalesce(col("_kp"), array().cast("array<int>"))
    incoming.select(col(idCol).cast("long").as("doc_id"), lines.as("_lines"))
      .join(keptPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("_lines")).cast("long").as("n_lines"),
        coalesce(size(col("_kp")), lit(0)).cast("long").as("n_kept"),
        array_join(transform(keptArr,
          i => element_at(col("_lines"), i + 1)), "\n").as("text_clean"))
  }

  /** The original O(lines·kept) membership-scan rebuild — kept ONLY as
    * the equivalence-test twin for [[dedupLinesCorpus]]'s indexing
    * rebuild: given the line array and the kept-position array, both
    * must reproduce the identical cleaned text.
    */
  private[graft] def rebuildByMembershipHof(linesCol: Column,
                                            keptPosCol: Column): Column =
    array_join(filter(linesCol,
      (_, i) => coalesce(array_contains(keptPosCol, i), lit(false))),
      "\n")
}
