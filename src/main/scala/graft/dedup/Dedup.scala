package graft.dedup

import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines over a `documents`
  * table. Four families, each with an explicit 100 TB scale story:
  *
  *  - exact:       one shuffle on a content hash (map-side combinable).
  *  - MinHash+LSH: shingle → signature (narrow) → band-bucket shuffle →
  *                 candidate pairs verified by exact Jaccard. Never O(n²).
  *  - SimHash:     token-hash explode → one groupBy(doc) shuffle with
  *                 map-side partial aggregation → 64-bit fingerprint →
  *                 band-bucket join for Hamming candidates.
  *  - n-gram Jaccard: shingle-inverted-index join (only docs sharing a
  *                 shingle are paired) — the classic candidate generator.
  *
  * Bucket-size caps guard the LSH shuffles against skew (a degenerate
  * shingle shared by everything would otherwise create a quadratic bucket).
  */
object Dedup {

  /** Exact dedup on normalized content: one row per distinct fingerprint,
    * keeping the smallest id — deterministic, idempotent, single shuffle.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.util.Par.spread(df)
      .select(col(idCol), TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** INCREMENTAL exact dedup: which incoming documents are new versus a
    * corpus that is already deduplicated — the daily-ingest decision,
    * answered WITHOUT re-processing the corpus relationally.
    *
    * Scale shape is [[graft.pipeline.Pipeline.decontaminate]]'s: the
    * incoming batch is the small side (a crawl increment vs a 100 TB
    * corpus), so its fingerprints BROADCAST and the corpus streams
    * through a broadcast join probe — corpus rows never shuffle, and
    * the corpus side prunes to the fingerprint column only. Duplicates
    * WITHIN the incoming batch also collapse (min id wins, consistent
    * with [[exact]]); `is_new` marks each incoming doc's batch-survivor
    * against the corpus.
    *
    * Output: one row per incoming document —
    * (doc_id, fingerprint, is_new: survivor of its batch group AND
    * absent from the corpus).
    */
  def exactIncremental(incoming: DataFrame, corpus: DataFrame,
                       idCol: String, textCol: String): DataFrame =
    exactIncrementalFp(incoming.select(col(idCol).cast("long").as("doc_id"),
      TextOps.fingerprint(col(textCol)).as("fingerprint")), corpus, textCol)

  /** [[exactIncremental]] over a PRE-FINGERPRINTED increment frame
    * `(doc_id, fingerprint)` — lets a composite caller
    * ([[graft.pipeline.Pipeline.ingestClean]]) checkpoint the 16-byte
    * key frame once (never the raw text) and keep every
    * increment-side shuffle off the file scan.
    */
  private[graft] def exactIncrementalFp(inc: DataFrame, corpus: DataFrame,
                                        textCol: String): DataFrame = {
    val batchKeep = inc.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("_keep_id"))
    // corpus side: fingerprint projection only; the broadcast carries
    // the (small) incoming fingerprint set, the corpus never shuffles
    val hit = graft.util.Par.spread(corpus)
      .select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .join(broadcast(batchKeep.select(col("fingerprint"))), "fingerprint")
      .distinct()
      .withColumn("_in_corpus", lit(true))
    inc.join(broadcast(batchKeep), "fingerprint")
      .join(broadcast(hit), Seq("fingerprint"), "left")
      .select(col("doc_id"), col("fingerprint"),
        (col("doc_id") === col("_keep_id") &&
          coalesce(!col("_in_corpus"), lit(true))).as("is_new"))
  }

  /** [[exactIncremental]] against a persisted [[BloomStore]] — the
    * recrawl-scale form of the exact daily-ingest decision. Two things
    * change physically, nothing semantically:
    *
    *  1. the corpus is never read at all: the verify joins the store's
    *     persisted FINGERPRINT column (16 bytes/doc, built once at
    *     corpus-ingest time) instead of re-fingerprinting corpus text;
    *  2. the membership sketch prefilters the increment MAP-SIDE, so
    *     the verify broadcast carries only bloom-POSITIVE fingerprints
    *     — O(true dups + fpp·increment) instead of O(increment). A
    *     Bloom filter has no false negatives, and the join removes its
    *     false positives, so the decision is bit-identical to
    *     [[exactIncremental]] (shared oracle; equivalence spec).
    *
    * Output: one row per incoming document — (doc_id, fingerprint,
    * is_new), exactly [[exactIncremental]]'s contract.
    */
  def exactIncrementalBloom(incoming: DataFrame, store: BloomStore.Store,
                            idCol: String, textCol: String): DataFrame = {
    val inc = incoming.select(col(idCol).cast("long").as("doc_id"),
      TextOps.fingerprint(col(textCol)).as("fingerprint"))
    val batchKeep = inc.groupBy(col("fingerprint"))
      .agg(min(col("doc_id")).as("_keep_id"))
    val cand = batchKeep
      .filter(graft.functions.Kernels.bloomContains(
        xxhash64(col("fingerprint")), store.bloom))
      .select(col("fingerprint"))
    val hit = store.fps
      .join(broadcast(cand), "fingerprint")
      .distinct()
      .withColumn("_in_corpus", lit(true))
    inc.join(broadcast(batchKeep), "fingerprint")
      .join(broadcast(hit), Seq("fingerprint"), "left")
      .select(col("doc_id"), col("fingerprint"),
        (col("doc_id") === col("_keep_id") &&
          coalesce(!col("_in_corpus"), lit(true))).as("is_new"))
  }

  /** MinHash signature from ONE md5 per shingle: the digest's two halves
    * (h1 = first 15 hex chars = 60 bits, h2 = hex chars 17-30 = 56 bits)
    * seed a Kirsch-Mitzenmacher double-hashing family
    * `g_j = h1 + j·h2`, and `signature[j] = min over shingles of g_j`.
    * One cryptographic hash per shingle instead of `numHashes` of them —
    * the same trick the Bloom-filter double-hashing literature uses, and
    * the fix for round 1's dominant bench cost (16 interpreted md5 calls
    * per shingle).
    *
    * md5 (not xxhash64) on purpose: md5 is identical in every engine, so
    * the ENTIRE MinHash+LSH pipeline is expressible in the DuckDB oracle
    * and cross-checked end-to-end. All values stay < 2^61, so the
    * arithmetic never overflows signed 64-bit on either engine.
    *
    * `h1`/`h2` must be MATERIALIZED array columns (see [[minhashLsh]]):
    * each is referenced once per hash function, and a multi-referenced
    * non-cheap alias is what stops CollapseProject from inlining the
    * md5 transform into every element of the signature array.
    *
    * No registered row calls it: the rows sign through the fused
    * [[graft.functions.Kernels.minhashSig]] kernel. It stays as the
    * Column-form spec that kernel is equivalence-tested against
    * (BatchKernelSpec, KernelPropertiesSpec).
    */
  def minhashSignatureFromHalves(h1: Column, h2: Column,
                                 numHashes: Int): Column =
    array((0 until numHashes).map { j =>
      array_min(zip_with(h1, h2, (a, b) => a + lit(j.toLong) * b))
    }: _*)

  /** The (doc_id, sh) shingle-set frame every MinHash stage starts from —
    * factored so the batch ([[minhashLsh]]) and incremental
    * ([[minhashIncremental]]) operators can never drift on what a
    * shingle is.
    */
  private[dedup] def shingleSetsOf(df: DataFrame, idCol: String, textCol: String,
                          shingleSize: Int): DataFrame =
    df.select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("_toks"))
      .select(col("doc_id"),
        TextOps.shinglesFromTokens(col("_toks"), shingleSize).as("sh"))

  /** (doc_id, band, bucket) LSH band keys from a shingle frame.
    *
    * The whole signature is ONE codegen'd pass per document
    * ([[graft.functions.Kernels.minhashSig]]): md5 per shingle + all
    * numHashes mins in a tight JVM loop. The staged Column-expression
    * twin ([[minhashSignatureFromHalves]] fed by per-stage aliases) is
    * the equivalence-tested spec and the template the DuckDB oracle SQL
    * mirrors.
    *
    * Band key = md5 of that band's slice of the signature. Only
    * (doc_id, band, bucket) travels through the LSH shuffles — the wide
    * shingle arrays are re-joined later for the few candidate pairs,
    * which keeps shuffle bytes O(docs), not O(docs × shingles).
    * Band keys are built as a STATIC array (not a lambda over band
    * index): `sig` is then referenced `bands` times, blocking the
    * per-element inline; posexplode_outer skips the inferred
    * size(...)>0 filter a plain posexplode would push down (the band
    * array is never empty).
    */
  private[dedup] def bandKeysOf(shingles: DataFrame, bands: Int,
                       rowsPerBand: Int): DataFrame =
    bandKeysFromSig(shingles.select(col("doc_id"),
      graft.functions.Kernels.minhashSig(col("sh"), bands * rowsPerBand)
        .as("sig")), bands, rowsPerBand)

  /** Band keys from an ALREADY-signed frame (`doc_id`, `sig`) — the
    * seam that lets the incremental probes checkpoint shingles AND
    * signature in ONE eager job and re-derive the banded view lazily
    * (8 md5s per doc per fork instead of a second checkpoint job, and
    * never a Kernels.minhashSig re-run).
    */
  private[graft] def bandKeysFromSig(sigged: DataFrame, bands: Int,
                       rowsPerBand: Int): DataFrame =
    sigged.select(col("doc_id"),
      posexplode_outer(array((0 until bands).map { b =>
        md5(concat(lit(s"$b#"),
          array_join(transform(
            slice(col("sig"), b * rowsPerBand + 1, rowsPerBand),
            x => x.cast("string")), ",")))
      }: _*)).as(Seq("band", "bucket")))

  /** MinHash + LSH banding near-dedup.
    *
    * @param bands × @param rowsPerBand hash functions; docs agreeing on ALL
    * rows of any band land in one bucket. Candidate pairs from buckets are
    * verified with exact Jaccard over shingle sets; pairs ≥ threshold out.
    * `maxBucket` drops degenerate buckets (skew guard at scale).
    *
    * INPUT CONTRACT: `idCol` must be unique in `df` (one text per id).
    * The verify stitches each candidate pair's two shingle arrays back
    * with a one-row-per-role aggregation; duplicate ids would collapse
    * to an arbitrary representative where the old double-join emitted
    * all combinations (r16 ADVICE).
    */
  /** LSH candidate pairs (doc_a < doc_b, deduped): band keys →
    * bucket-size cap (skew guard) → within-bucket pairing. Shared by
    * [[minhashLsh]] (exact-Jaccard verify) and [[editDistancePairs]]
    * (Levenshtein verify) — the ids-only shuffle discipline lives here.
    */
  private[dedup] def lshCandidatePairs(df: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, bands: Int, rowsPerBand: Int,
      maxBucket: Int): DataFrame = {
    val banded = bandKeysOf(
      shingleSetsOf(graft.util.Par.spread(df), idCol, textCol, shingleSize),
      bands, rowsPerBand)

    val bucketed = banded
      .withColumn("n_in_bucket",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("n_in_bucket") <= maxBucket)

    val a = bucketed.select(col("band"), col("bucket"), col("doc_id").as("doc_a"))
    val b = bucketed.select(col("band"), col("bucket"), col("doc_id").as("doc_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Corpus-scaled MinHash band geometry — the
    * [[graft.simops.Similarity.nearDupPairsBanded]] band-bits law
    * applied to (bands × rowsPerBand). With FIXED geometry, a random
    * pair's per-band collision probability j^r is constant while the
    * pair population grows n², so candidate volume (and the silent
    * recall loss once buckets flood the cap) grows with every corpus
    * decade — the r10 anchor measured 4.8×/decade on `dedup_minhash`
    * at 8×2. Growing ROWS per band sharpens the band filter
    * (collision j^r), and bands re-solve the LSH S-curve so recall at
    * the verify threshold stays ≥ 90%:
    *
    *   r = min(r0 + 1 per THREE corpus doublings past `knee`, rCap)
    *   b = ⌈ln(10) / −ln(1 − t^r)⌉   (P[candidate | j=t] ≥ 0.9)
    *
    * The bands half of the law is EXPONENTIAL in r (≈ ln10 / t^r for
    * small t^r): at t=0.5 the per-doc signature budget b·r runs
    * 16 → 54 → 144 → 365 hashes at r = 2/3/4/5 — roughly 2×/decade of
    * corpus ON TOP of the decade itself, which is the price of holding
    * 90% analytic recall at a low threshold while the pair population
    * grows n². `rCap` (default 5, ≥ ~4M docs) bounds that trade: past
    * it the geometry FREEZES at the cap's solve (365 hashes at the
    * defaults — already past most published MinHash budgets) and
    * candidate growth reverts to the capped regime where `maxBucket`
    * bounds the join fan-out and [[lshCapAudit]] / the capstats rows
    * surface exactly how much bucket mass the cap drops. Every emitted
    * geometry at or below the cap still holds ≥ 90% analytic recall
    * (DedupSpec pins the law table including the cap).
    *
    * Below the knee the geometry is EXACTLY the (bands0, r0) default —
    * identical at every driver sf and at the zsf1 anchor, so the
    * DuckDB oracles (which bake the 8×2 signature structurally)
    * replay unchanged everywhere the gate runs; above the knee only
    * the bench anchors see the scaled geometry (the BASELINE
    * convention shared with [[scaledWinnowWindow]]). False candidates
    * never corrupt output (exact-Jaccard verify); geometry moves only
    * WHICH true pairs are surfaced, pinned by the planted-pair recall
    * assertions in DedupSpec at both geometries.
    */
  def scaledBandGeometry(n: Long, threshold: Double = 0.5,
                         bands0: Int = 8, r0: Int = 2,
                         knee: Long = 65536L, rCap: Int = 5): (Int, Int) = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold in (0,1), got $threshold")
    require(rCap >= r0, s"rCap ($rCap) must be >= r0 ($r0)")
    if (n <= knee) (bands0, r0)
    else {
      val q = (n + knee - 1) / knee
      val d = 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
      val r = math.min(r0 + (d + 2) / 3, rCap)
      val b = math.ceil(math.log(10.0) /
        -math.log1p(-math.pow(threshold, r))).toInt
      (math.max(b, 1), r)
    }
  }

  /** `bands <= 0` = AUTO: derive the geometry from the corpus size
    * (one count() action — the [[spanPairs]] w-AUTO precedent).
    * Incrementals keep EXPLICIT geometry on purpose: their banded
    * probes must match the persisted signature store they were built
    * with, so geometry changes there ride a store rebuild, never a
    * corpus-count drift.
    *
    * The AUTO count is an EAGER action at DataFrame-BUILD time, and it
    * replays `df`'s full unmaterialized lineage once before the run
    * replays it again — a caller whose frame hides expensive upstream
    * work (extraction, joins) should either pass `knownCount` (any
    * value > 0 skips the action; cheap when a checkpointed narrow twin
    * of the frame already exists, e.g. crawlClean's survivor frame) or
    * cache/localCheckpoint the frame first. Composed operators
    * (clusters → minhashLsh) otherwise re-count per call. Note the
    * output is corpus-cardinality-dependent under AUTO by design:
    * identical documents can dedup differently on either side of the
    * geometry knee (the documented scaled-geometry contract).
    */
  private def resolveBandGeometry(df: DataFrame, bands: Int,
      rowsPerBand: Int, threshold: Double,
      knownCount: Long = -1L): (Int, Int) =
    if (bands > 0) (bands, rowsPerBand)
    else scaledBandGeometry(
      if (knownCount > 0) knownCount else df.count(), threshold)

  /** Cap-audit of the banded LSH candidate stage — `maxBucket`'s
    * observability companion (no silent recall cliff): per band, the
    * bucket count, how many buckets exceed the cap, and how many
    * banded keys those buckets carry (= the keys [[lshCandidatePairs]]
    * drops). A pipeline owner watches `keys_dropped` grow to know when
    * the geometry (or the cap) no longer fits the corpus — the same
    * role ngram_df_capstats plays for the df cap. One extra combinable
    * aggregate over the banded frame; never runs in the dedup path
    * itself.
    */
  def lshCapAudit(df: DataFrame, idCol: String, textCol: String,
                  shingleSize: Int = 3, bands: Int = 8,
                  rowsPerBand: Int = 2, threshold: Double = 0.5,
                  maxBucket: Int = 64, knownCount: Long = -1L): DataFrame = {
    val (bandsEff, rowsEff) = resolveBandGeometry(df, bands, rowsPerBand,
      threshold, knownCount)
    val banded = bandKeysOf(
      shingleSetsOf(graft.util.Par.spread(df), idCol, textCol, shingleSize),
      bandsEff, rowsEff)
    banded.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        count(when(col("n") > maxBucket, 1)).as("n_over_cap"),
        coalesce(sum(when(col("n") > maxBucket, col("n"))), lit(0L))
          .cast("long").as("keys_dropped"))
  }

  /** Candidate-pair count at or below which the melted verify side is
    * BROADCAST (≈ 2 × 2²⁰ melted rows of three longs — ~50 MB framed,
    * the [[clusters]] localEdgeThreshold sizing): near-dup candidate
    * pairs are a sliver of any corpus, but the sliver grows with the
    * corpus, so past the bound the verify falls back to a
    * shuffled-hash join building the candidate side — never a sort,
    * and NEVER a broadcast of the corpus shingle frame (the planner's
    * own estimate-driven choice at the zsf10 anchor: 500k shingle
    * arrays collected and broadcast, 44 s where every candidate stage
    * summed to 7 s). A var only so a plan fence can lower it and reach
    * the shuffled-hash branch at test scale.
    */
  @volatile private[graft] var LshVerifyBroadcastMaxPairs: Long = 1L << 20

  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleSize: Int = 3, bands: Int = 8, rowsPerBand: Int = 2,
                 threshold: Double = 0.5, maxBucket: Int = 64,
                 knownCount: Long = -1L): DataFrame = {
    val (bandsEff, rowsEff) = resolveBandGeometry(df, bands, rowsPerBand,
      threshold, knownCount)
    // checkpointed: candidate-bounded (the same sliver class clusters()
    // checkpoints), and the size decision below needs its count — from
    // the checkpoint the count is free instead of a second candidate
    // pass
    val pairs = lshCandidatePairs(df, idCol, textCol, shingleSize, bandsEff,
      rowsEff, maxBucket).localCheckpoint()
    val nPairs = pairs.count()

    val shs = shingleSetsOf(graft.util.Par.spread(df), idCol, textCol,
      shingleSize)
    // ONE corpus shingle pass for the verify: joining shs by doc_a and
    // again by doc_b evaluated the shingle kernel twice and (at scale,
    // where shs exceeds the broadcast threshold) exchanged the corpus
    // shingle arrays twice — the guide §8 anti-pattern of shuffling the
    // heavy payload per join key. MELT the candidate pairs to one row
    // per (pair, member doc), join the shingle stream ONCE on doc_id
    // (the planner broadcasts the candidate side when it fits;
    // otherwise one corpus exchange instead of two), and stitch the two
    // arrays back per pair with a candidate-bounded aggregation.
    // Exactly one row per (pair, role) exists, so the ignoreNulls
    // `first` is deterministic. A pair whose member lacks a shingle row
    // (impossible from this method's own `df` — shingleSetsOf emits one
    // row per input doc — but reachable if a caller-side contract ever
    // changes) must drop EXACTLY as it did under the inner joins this
    // replaces: the explicit not-null filter makes that structural,
    // instead of leaning on legacy size(NULL) = -1 pushing jaccard
    // below threshold — which diverges under ANSI mode (size(NULL) is
    // NULL) or a zero threshold (r16 verdict).
    val melted = pairs.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    // SIZE-ADAPTIVE verify side (measured at the zsf10 anchor, r17):
    // the planner's estimate-driven choice broadcast the CORPUS
    // shingle frame (44 s); forcing shuffle_hash instead exchanged the
    // corpus arrays (95 s). The cheap shape is broadcasting the
    // candidate sliver — corpus streams map-side, zero corpus
    // exchange, kernel runs once — with the counted checkpoint
    // guarding the broadcast bound and the shuffled-hash fallback
    // (build = candidate side) past it.
    val meltedSide =
      if (nPairs <= LshVerifyBroadcastMaxPairs) broadcast(melted)
      else melted.hint("shuffle_hash")
    shs.join(meltedSide, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("doc_id") === col("doc_a"), col("sh")),
          ignoreNulls = true).as("sh_a"),
        first(when(col("doc_id") === col("doc_b"), col("sh")),
          ignoreNulls = true).as("sh_b"))
      .filter(col("sh_a").isNotNull && col("sh_b").isNotNull)
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Small-edit near-dedup: pairs whose `prefixLen`-character prefixes
    * are within `maxDist` Levenshtein edits — the signal for template
    * instantiations and minor revisions, where token-set Jaccard stays
    * high but the EDIT structure matters (and conversely: reordered
    * shingle soup scores Jaccard-high yet edit-far).
    *
    * Candidates come from the SAME banded-LSH machinery as
    * [[minhashLsh]] ([[lshCandidatePairs]]: ids-only band shuffles,
    * bucket caps) — edit distance is a verify step, never an all-pairs
    * scan. The verify is O(prefixLen²) DP per candidate via Spark's
    * codegen'd `levenshtein(l, r, threshold)` form, which abandons a
    * row at `maxDist` instead of filling the full DP table, and a
    * prefix-length band check prunes before the DP runs (|len(a) −
    * len(b)| > d implies dist > d). Prefix truncation bounds per-pair
    * cost at any document length — the 100 TB contract is "candidates
    * × prefixLen²", independent of doc size.
    *
    * Output: (doc_a, doc_b, dist), dist ≤ maxDist, exact integers.
    */
  def editDistancePairs(df: DataFrame, idCol: String, textCol: String,
                        maxDist: Int, prefixLen: Int = 400,
                        shingleSize: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2,
                        maxBucket: Int = 64,
                        knownCount: Long = -1L): DataFrame = {
    require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    // candidate recall here rides SHINGLE similarity, so the scaled
    // geometry's S-curve pin (threshold 0.5) applies unchanged
    val (bandsEff, rowsEff) = resolveBandGeometry(df, bands, rowsPerBand,
      0.5, knownCount)
    val pairs = lshCandidatePairs(df, idCol, textCol, shingleSize, bandsEff,
      rowsEff, maxBucket)
    val tx = graft.util.Par.spread(df)
      .select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, prefixLen).as("_t"))
    pairs
      .join(tx.select(col("doc_id").as("doc_a"), col("_t").as("_ta")), "doc_a")
      .join(tx.select(col("doc_id").as("doc_b"), col("_t").as("_tb")), "doc_b")
      .filter(abs(length(col("_ta")) - length(col("_tb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_ta"), col("_tb"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("doc_a"), col("doc_b"), col("dist"))
  }

  /** INCREMENTAL near-dedup: which incoming documents are near-dups of
    * an already-ingested corpus — the daily-crawl decision
    * [[exactIncremental]] answers for exact dups, extended to MinHash
    * similarity. The operator a 100 TB pipeline actually runs every
    * ingest: the corpus is NOT re-deduplicated against itself; only the
    * increment is probed against it.
    *
    * Scale shape (the [[exactIncremental]]/decontaminate broadcast
    * discipline — the corpus side NEVER shuffles):
    *   - the incoming batch's (band, bucket) keys BROADCAST into a join
    *     against the corpus's banded signature frame, so corpus rows
    *     stream map-side through signature computation + probe — at
    *     scale the banded frame is the persisted signature store and
    *     the probe is a broadcast-hash lookup against it;
    *   - only MATCHED corpus rows (candidate-sized, not corpus-sized)
    *     reach the bucket-cap window and the pairing join — the
    *     `maxBucket` skew guard runs after the broadcast probe, where a
    *     degenerate bucket has already shrunk to its matched slice;
    *   - exact-Jaccard verify re-reads shingles ONLY for candidate
    *     corpus docs (their ids broadcast back against the corpus scan).
    *
    * Output: one row per incoming document —
    * (doc_id, dup_of: best-matching corpus doc or null, jaccard of that
    * match or null, is_new: no corpus near-dup ≥ threshold). "Best"
    * breaks ties deterministically: highest jaccard, then lowest corpus
    * id. Within-batch near-dups are out of scope by design — run
    * [[minhashLsh]] over the (small) increment for those.
    */
  def minhashIncremental(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, textCol: String,
                         shingleSize: Int = 3, bands: Int = 8,
                         rowsPerBand: Int = 2, threshold: Double = 0.5,
                         maxBucket: Int = 64): DataFrame = {
    val (incIds, verified) = minhashIncrementalVerified(incoming, corpus,
      idCol, textCol, shingleSize, bands, rowsPerBand, threshold, maxBucket)
    minhashBestDecision(incIds, verified)
  }

  /** The two frames behind [[minhashIncremental]]'s decision, exposed
    * for composition ([[pairNearDupIncremental]] joins them against
    * another modality's verdicts): the increment's id list and EVERY
    * verified candidate pair `(inc_id, dup_id, jaccard ≥ threshold)` —
    * not just the best match, because a pair-level rule needs the
    * full candidate set to find the SAME prior pair on both sides.
    *
    * BROADCAST BOUND (r16 verdict): the verify stage broadcasts the
    * candidate `pairs` frame and the candidate slice of the increment's
    * shingle arrays. Both are bounded by |increment| × bands ×
    * maxBucket rows — an invariant of the DAILY-INGEST contract, where
    * the increment is orders of magnitude smaller than the corpus. A
    * caller that feeds a corpus-sized "increment" voids that bound and
    * converts the hints into a driver-memory risk: split such a batch,
    * or use [[minhashLsh]], which is the symmetric-corpus form.
    */
  private[graft] def minhashIncrementalVerified(
      incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int, bands: Int,
      rowsPerBand: Int, threshold: Double,
      maxBucket: Int): (DataFrame, DataFrame) = {
    // the increment's shingle frame forks three ways (band keys, verify
    // side, output doc list) and its banded view twice (key broadcast +
    // pairing join). ONE fused checkpoint of (doc_id, sh, sig) covers
    // all of them: the shingle AND signature kernels run exactly once
    // in a single eager job (r16 shipped TWO checkpoint jobs here; the
    // per-row fixed job latency was the pair family's floor), and the
    // banded view re-derives lazily from the checkpointed sig — 8 md5s
    // per doc per fork, never a Kernels.minhashSig re-run. The CORPUS side
    // stays lazy — corpus-sized frames are never checkpointed.
    val incSig = minhashIncSig(incoming, idCol, textCol, shingleSize,
      bands, rowsPerBand)
    val incSh = incSig.select(col("doc_id"), col("sh"))
    val incBanded = bandKeysFromSig(incSig, bands, rowsPerBand)
    val incKeys = incBanded.select(col("band"), col("bucket")).distinct()
    val corpusBanded = bandKeysOf(
      shingleSetsOf(graft.util.Par.spread(corpus), idCol, textCol,
        shingleSize), bands, rowsPerBand)
    // the probe: corpus streams through a broadcast join on the
    // increment's band keys — no corpus shuffle, ids-only payload
    val matched = corpusBanded.join(broadcast(incKeys), Seq("band", "bucket"))
    val capped = matched.withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("_n") <= maxBucket)
    // pairs is CANDIDATE-sized (bounded by increment × maxBucket) and
    // forks three ways below (verify left side, corpus candidate ids,
    // increment candidate ids) — checkpoint it, or each fork re-runs
    // the corpus-scale signature probe above (2 corpus sig passes
    // measured; the bimodal zsf10 G1 readings rode on that rework)
    val pairs = capped.join(
        broadcast(incBanded.select(col("band"), col("bucket"),
          col("doc_id").as("inc_id"))), Seq("band", "bucket"))
      .select(col("inc_id"), col("doc_id").as("dup_id"))
      .dropDuplicates("inc_id", "dup_id")
      .localCheckpoint()
    // verify payloads: candidate corpus ids broadcast back against the
    // corpus shingle scan (again no corpus shuffle); increment shingles
    // come from the checkpoint, RESTRICTED to candidate docs before
    // broadcasting — the whole increment's shingle arrays are a
    // hundreds-of-MB broadcast build at the 100x anchor (the G1
    // bimodality source), the candidate slice is pair-bounded
    val candIds = pairs.select(col("dup_id").as("doc_id")).distinct()
    val corpusSh = shingleSetsOf(graft.util.Par.spread(corpus), idCol,
        textCol, shingleSize)
      .join(broadcast(candIds), "doc_id")
    val incCandSh = incSh.join(
      broadcast(pairs.select(col("inc_id").as("doc_id")).distinct()),
      "doc_id")
    // verify runs MAP-SIDE on the candidate-filtered corpus shingle
    // scan (both build sides candidate-bounded — the same sizing as
    // the candIds broadcast above); without the hints the planner
    // picked a SortMergeJoin on dup_id (guide §3.1)
    val verified = corpusSh
      .select(col("doc_id").as("dup_id"), col("sh").as("sh_b"))
      .join(broadcast(pairs), "dup_id")
      .join(broadcast(incCandSh.select(col("doc_id").as("inc_id"),
        col("sh").as("sh_a"))), "inc_id")
      .withColumn("inter",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("sh_a")) + size(col("sh_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
    (incSh.select(col("doc_id").cast("long").as("doc_id")),
      verified.select(col("inc_id"), col("dup_id"), col("jaccard")))
  }

  /** [[minhashIncremental]] against a PERSISTED [[SignatureStore]] —
    * the form a daily 100 TB pipeline actually runs: the corpus's
    * signatures and shingle-hash arrays were computed once at ingest
    * time, so probing a new increment touches NO corpus text at all.
    * Only the increment is signed (O(increment) narrow work); its band
    * keys broadcast against the stored banded frame, candidate ids
    * broadcast against the stored hash arrays, and the exact-Jaccard
    * verify runs on the 8-byte hash arrays (set intersection equal to
    * the string-set intersection up to vanishing 64-bit collisions —
    * the [[ngramJaccardSortedPrefix]] verify contract, so the output
    * matches [[minhashIncremental]] bit for bit on the rounded
    * jaccard, equivalence-tested).
    *
    * Same output contract as [[minhashIncremental]]:
    * (doc_id, dup_of, jaccard, is_new), one row per incoming doc.
    */
  def minhashIncrementalStored(incoming: DataFrame,
                               store: SignatureStore.Store,
                               idCol: String, textCol: String,
                               shingleSize: Int = 3, bands: Int = 8,
                               rowsPerBand: Int = 2,
                               threshold: Double = 0.5,
                               maxBucket: Int = 64): DataFrame = {
    val (incIds, verified) = minhashStoredProbeFromSig(
      minhashIncSig(incoming, idCol, textCol, shingleSize, bands,
        rowsPerBand), store, bands, rowsPerBand, threshold, maxBucket)
    minhashBestDecision(incIds, verified)
  }

  /** The shared decision tail of both minhash incremental forms: best
    * verified match per incoming doc (highest jaccard, lowest corpus
    * id), every incoming doc surfaced with its is_new verdict.
    */
  private[graft] def minhashBestDecision(incIds: DataFrame,
      verified: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("inc_id"))
      .orderBy(col("jaccard").desc, col("dup_id").asc)
    val best = verified
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("inc_id").cast("long").as("doc_id"),
        col("dup_id").cast("long").as("dup_of"), col("jaccard"))
    incIds.join(broadcast(best), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"),
        col("dup_of").isNull.as("is_new"))
  }

  /** The increment's fused signature checkpoint (`doc_id`, `sh`,
    * `sig`) — ONE eager job running the shingle AND signature kernels
    * exactly once (see minhashIncrementalVerified). Store-independent,
    * so an `_updated` caller can build increment B's frame
    * concurrently with the whole A phase (guide §2.6).
    */
  private[graft] def minhashIncSig(incoming: DataFrame, idCol: String,
      textCol: String, shingleSize: Int, bands: Int,
      rowsPerBand: Int): DataFrame =
    shingleSetsOf(graft.util.Par.spread(incoming), idCol,
        textCol, shingleSize)
      .select(col("doc_id"), col("sh"),
        graft.functions.Kernels.minhashSig(col("sh"), bands * rowsPerBand)
          .as("sig"))
      .localCheckpoint()

  /** The stored probe over an already-checkpointed fused signature
    * frame: band-key broadcast probe of the stored banded frame,
    * bucket cap, candidate pairing, exact verify on the stored hash
    * arrays. Returns (incIds, verified) — the
    * [[minhashIncrementalVerified]] contract against a PERSISTED
    * [[SignatureStore]], with decisions identical to the in-DAG form.
    *
    * BROADCAST BOUND: same |increment| × bands × maxBucket invariant as
    * [[minhashIncrementalVerified]]; corpus-sized "increments" must be
    * split.
    */
  private[graft] def minhashStoredProbeFromSig(incSig: DataFrame,
      store: SignatureStore.Store, bands: Int, rowsPerBand: Int,
      threshold: Double, maxBucket: Int): (DataFrame, DataFrame) = {
    val incSh = incSig.select(col("doc_id"), col("sh"))
    val incBanded = bandKeysFromSig(incSig, bands, rowsPerBand)
    val incKeys = incBanded.select(col("band"), col("bucket")).distinct()
    val matched = store.banded.join(broadcast(incKeys), Seq("band", "bucket"))
    val capped = matched.withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("bucket"))))
      .filter(col("_n") <= maxBucket)
    // CHECKPOINTED since r17 (candidate-bounded — increment × bands ×
    // maxBucket rows of two longs): pairs forks three ways (candidate
    // corpus ids, the pairs broadcast, candidate increment ids), and
    // each lazy fork replayed the banded-store probe — the matched
    // exchange was stage-reused, but the window filter + pairing join
    // + dropDuplicates agg re-ran once per fork, and at 100 TB the
    // probe streams the corpus-sized banded store. One bounded
    // checkpoint runs the probe exactly once; the store's banded scan
    // now executes inside this eager job (still inside the timed row).
    val pairs = capped.join(
        broadcast(incBanded.select(col("band"), col("bucket"),
          col("doc_id").as("inc_id"))), Seq("band", "bucket"))
      .select(col("inc_id"), col("doc_id").as("dup_id"))
      .dropDuplicates("inc_id", "dup_id")
      .localCheckpoint()
    val candIds = pairs.select(col("dup_id").as("doc_id")).distinct()
    val corpusHs = store.shingleHashes.join(broadcast(candIds), "doc_id")
    // hash (and broadcast) only the CANDIDATE slice of the increment —
    // the whole-increment hash-array broadcast was the G1-bimodality
    // build at the 100x anchor
    val incCandSh = incSh.join(
      broadcast(pairs.select(col("inc_id").as("doc_id")).distinct()),
      "doc_id")
    // verify runs MAP-SIDE on the candidate-filtered store scan: both
    // pairs and the candidate increment hash arrays are
    // candidate-bounded, so broadcast them INTO the store stream —
    // without the hints the planner picked a SortMergeJoin on dup_id
    // (post-join size estimates are unknown), paying two exchanges +
    // sorts of candidate frames for nothing (guide §3.1)
    val verified = corpusHs
      .select(col("doc_id").as("dup_id"), col("hs").as("hs_b"))
      .join(broadcast(pairs), "dup_id")
      .join(broadcast(incCandSh.select(col("doc_id").as("inc_id"),
        graft.functions.Kernels.xxSortedHashes(col("sh")).as("hs_a"))), "inc_id")
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
      .withColumn("jaccard", round(col("inter") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
    (incSh.select(col("doc_id").cast("long").as("doc_id")),
      verified.select(col("inc_id"), col("dup_id"), col("jaccard")))
  }

  /** The ACCEPTED increment's signature-store layer derived from the
    * probe's already-checkpointed fused signature frame — ZERO
    * re-signing and zero extra checkpoint jobs: banded = band keys
    * re-expanded from the checkpointed `sig`, shingleHashes = the
    * sorted-hash attach on the checkpointed `sh`; both filtered to the
    * accepted ids (broadcast — bounded). Bit-identical to
    * `SignatureStore.build(accepted docs)` because every kernel is a
    * deterministic per-row function of the same checkpointed rows
    * (equivalence pinned in DedupSpec).
    */
  private[graft] def acceptedLayerFromSig(incSig: DataFrame,
      accIds: DataFrame, bands: Int,
      rowsPerBand: Int): SignatureStore.Store = {
    val acc = incSig.join(broadcast(accIds), "doc_id")
    SignatureStore.Store(
      banded = bandKeysFromSig(acc, bands, rowsPerBand),
      shingleHashes = acc.select(col("doc_id"),
        graft.functions.Kernels.xxSortedHashes(col("sh")).as("hs")))
  }

  /** 64-bit SimHash per document via the scalable explode→groupBy path:
    * one shuffle keyed by doc id with map-side partial aggregation of the
    * bit-counter buffer ([[graft.functions.SimHashAgg]], a single
    * TypedImperativeAggregate instead of 64 parallel sums).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // 60-bit token hash from md5 (like MinHash above, md5 keeps the whole
    // pipeline portable: the DuckDB oracle reproduces it bit for bit).
    // Inner explode: a token-less doc drops on both engines.
    val tokenHashes = graft.util.Par.spread(df)
      .select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(lower(col(textCol)))).as("tok"))
      .select(col("doc_id"),
        conv(substring(md5(col("tok")), 1, 15), 16, 10).cast("long").as("h"))
    tokenHashes.groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg(col("h")).as("simhash"))
  }

  /** Banded Hamming-near pairs over ANY precomputed 64-bit fingerprint
    * column: 4×16-bit band keys (any shared band ⇒ candidate — the
    * pigeonhole guarantee catches every pair at Hamming ≤ 3), hot
    * buckets capped, then exact `bit_count(xor)` verify. The shuffle
    * carries (id, fingerprint, band, key) — 8-byte payloads, never the
    * underlying document/image. Shared by [[simhashPairs]] (text
    * SimHash) and the image dHash near-dup
    * ([[graft.multimodal.Multimodal.dhashFeatures]]).
    */
  def hammingPairs(sig: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 64): DataFrame = {
    val s0 = sig.select(col(idCol).as("doc_id"), col(hashCol).as("_h64"))
    val banded = s0.select(col("doc_id"), col("_h64"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("_h64"), b * 16).bitwiseAND(0xFFFFL)
      }: _*)).as(Seq("band", "key")))
    val capped = banded.withColumn("n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key"))))
      .filter(col("n") <= maxBucket)
    val a = capped.select(col("band"), col("key"),
      col("doc_id").as("doc_a"), col("_h64").as("sim_a"))
    val b = capped.select(col("band"), col("key"),
      col("doc_id").as("doc_b"), col("_h64").as("sim_b"))
    a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .dropDuplicates("doc_a", "doc_b")
      .filter(col("hamming") <= maxHamming)
  }

  /** SimHash near-dup candidates: the [[hammingPairs]] machinery over
    * the per-document [[simhash]] fingerprint.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 64): DataFrame =
    hammingPairs(simhash(df, idCol, textCol), "doc_id", "simhash",
      maxHamming, maxBucket)

  /** The Hamming-fingerprint DAILY-INGEST decision — the 64-bit twin
    * of [[minhashIncremental]] for any precomputed fingerprint column
    * (image dHash, text SimHash): for each incoming fingerprint, is it
    * within `maxHamming` of something already in the corpus, and of
    * what?
    *
    * Scale shape (the corpus NEVER shuffles): only the increment's
    * banded frame is checkpointed and broadcast; the corpus streams
    * map-side through a broadcast join on the increment's band keys
    * carrying (id, fingerprint) — 16 bytes per row; the bucket cap
    * runs post-probe on the matched slice (the [[minhashIncremental]]
    * skew-guard placement); the verify is one `bit_count(xor)` per
    * candidate, so no second payload fetch exists at all.
    *
    * Output: one row per incoming id — (id, dup_of: best corpus match
    * or null, hamming or null, is_new). Best = lowest Hamming, then
    * lowest corpus id.
    */
  def hammingIncremental(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, hashCol: String,
                         maxHamming: Int = 3,
                         maxBucket: Int = 64): DataFrame = {
    val (incIds, verified) = hammingProbeFromBanded(
      hammingBandedCkpt(incoming, idCol, hashCol), corpus, idCol, hashCol,
      maxHamming, maxBucket)
    hammingBestDecision(incIds, verified, idCol)
  }

  /** The shared decision tail of the Hamming incremental forms: best
    * verified match per incoming id (lowest Hamming, lowest corpus
    * id), every incoming id surfaced with its is_new verdict.
    */
  private[graft] def hammingBestDecision(incIds: DataFrame,
      verified: DataFrame, idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("inc_id"))
      .orderBy(col("hamming").asc, col("dup_id").asc)
    val best = verified
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("inc_id"), col("dup_id").as("dup_of"), col("hamming"))
    incIds.join(broadcast(best), Seq("inc_id"), "left")
      .select(col("inc_id").as(idCol), col("dup_of"), col("hamming"),
        col("dup_of").isNull.as("is_new"))
  }

  private def bandedFp(df0: DataFrame, idCol: String, hashCol: String,
      id: String): DataFrame =
    df0.select(col(idCol).as(id), col(hashCol).as(s"_h_$id"))
      .select(col(id), col(s"_h_$id"),
        posexplode(array((0 until 4).map { b =>
          shiftright(col(s"_h_$id"), b * 16).bitwiseAND(0xFFFFL)
        }: _*)).as(Seq("band", "key")))

  /** The increment's checkpointed banded fingerprint frame
    * `(inc_id, _h_inc_id, band, key)` — ONE eager job paying the decode
    * lineage once. The fingerprint values ride it (band 0 holds one row
    * per id), so `_updated` callers derive the accepted media layer
    * from it ([[acceptedMediaFromBanded]]). Corpus-independent, so an
    * `_updated` caller can build increment B's frame concurrently
    * with the whole A phase (guide §2.6).
    */
  private[graft] def hammingBandedCkpt(incoming: DataFrame,
      idCol: String, hashCol: String): DataFrame =
    bandedFp(incoming, idCol, hashCol, "inc_id").localCheckpoint()

  /** The Hamming probe over an already-checkpointed banded increment
    * frame — the frames behind [[hammingIncremental]], exposed for
    * composition (the media half of [[pairNearDupIncremental]]).
    * Returns (incIds: the increment's distinct ids, verified: EVERY
    * candidate pair `(inc_id, dup_id, hamming ≤ maxHamming)`).
    */
  private[graft] def hammingProbeFromBanded(incB: DataFrame,
      corpus: DataFrame, idCol: String, hashCol: String,
      maxHamming: Int, maxBucket: Int): (DataFrame, DataFrame) = {
    val incKeys = incB.select(col("band"), col("key")).distinct()
    val matched = bandedFp(corpus, idCol, hashCol, "dup_id")
      .join(broadcast(incKeys), Seq("band", "key"))
    val capped = matched.withColumn("_n",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("key"))))
      .filter(col("_n") <= maxBucket)
    val verified = capped
      .join(broadcast(incB), Seq("band", "key"))
      .filter(col("inc_id") =!= col("dup_id"))
      .select(col("inc_id"), col("dup_id"),
        bit_count(col("_h_inc_id").bitwiseXOR(col("_h_dup_id")))
          .as("hamming"))
      .dropDuplicates("inc_id", "dup_id")
      .filter(col("hamming") <= maxHamming)
    // the output doc list comes from the CHECKPOINTED banded frame
    // (banding emits exactly `bands` rows per input id), not from
    // `incoming` — whose lineage may be an expensive kernel (image
    // decode) that would otherwise re-run just to list ids
    (incB.select(col("inc_id")).distinct(), verified)
  }

  /** The ACCEPTED increment's `(fpIdCol, fpCol)` media layer derived
    * from the probe's already-checkpointed banded frame: band 0 holds
    * exactly one row per incoming id carrying the original fingerprint
    * (the banding is a static 4-view posexplode), so no second decode
    * and no second checkpoint job. `accIds` must already carry
    * `fpIdCol`; it is broadcast (bounded accepted ids).
    */
  private[graft] def acceptedMediaFromBanded(incBanded: DataFrame,
      accIds: DataFrame, fpIdCol: String, fpCol: String): DataFrame =
    incBanded.filter(col("band") === 0)
      .select(col("inc_id").as(fpIdCol), col("_h_inc_id").as(fpCol))
      .join(broadcast(accIds), fpIdCol)

  /** Cross-modal PAIRED near-dedup — the LAION-class image-text-pair
    * ingest decision: an incoming pair is a duplicate iff BOTH its
    * text is a verified MinHash near-dup (jaccard ≥ `threshold`) AND
    * its media fingerprint is a Hamming near-dup (≤ `maxHamming`) OF
    * THE SAME prior pair. Text-only matches (same caption on a fresh
    * image) and media-only matches (same image re-captioned) SURVIVE
    * — the conservative keep rule paired-corpus curation uses,
    * because either side alone still carries fresh training signal.
    *
    * Inputs: increment/corpus TEXT frames (`idCol`: pair id,
    * `textCol`) and increment/corpus media FINGERPRINT frames
    * (`fpIdCol`: the same pair ids, `fpCol`: the 8-byte fingerprint —
    * the [[MediaStore]] column shape, so the media side can come
    * straight off a persisted store with zero decodes).
    *
    * Scale shape: both modalities run their standard incremental
    * probes (corpus sides never shuffle; increment band keys
    * broadcast), and the two verdict sets join on
    * (incoming pair, prior pair) — candidate-bounded, never
    * corpus-sized. The decision needs EVERY verified candidate, not
    * each side's best match: the best text match and best image match
    * can be different priors while some third prior matches both.
    *
    * Output: one row per incoming pair —
    * (doc_id, dup_of, jaccard, hamming, is_new); best = highest
    * jaccard, then lowest Hamming, then lowest prior-pair id.
    */
  def pairNearDupIncremental(incTexts: DataFrame, corTexts: DataFrame,
                             incFps: DataFrame, corFps: DataFrame,
                             idCol: String, textCol: String,
                             fpIdCol: String, fpCol: String,
                             shingleSize: Int = 3, bands: Int = 8,
                             rowsPerBand: Int = 2, threshold: Double = 0.5,
                             maxHamming: Int = 3,
                             maxBucket: Int = 64): DataFrame = {
    // independent modality legs built on two threads — their eager
    // bounded-checkpoint jobs overlap (guide §2.6, see
    // pairNearDupStored)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tF = Future(minhashIncrementalVerified(incTexts, corTexts,
      idCol, textCol, shingleSize, bands, rowsPerBand, threshold,
      maxBucket))
    val mF = Future(hammingProbeFromBanded(
      hammingBandedCkpt(incFps, fpIdCol, fpCol), corFps, fpIdCol, fpCol,
      maxHamming, maxBucket))
    val (incIds, tver) = Await.result(tF, Duration.Inf)
    val (_, mver) = Await.result(mF, Duration.Inf)
    pairCompose(incIds, tver, mver)
  }

  /** [[pairNearDupIncremental]] against the PERSISTED stores — what a
    * daily paired-corpus ingest actually runs: the text side probes a
    * [[SignatureStore]] (corpus signed once at its own ingest; corpus
    * TEXT never read), the media side probes a [[MediaStore]]
    * fingerprint frame (corpus payloads never decoded). The increment
    * is the only side that pays kernels; decisions are identical to
    * the in-DAG form (each side's stored probe is decision-identical
    * by its family's own contract), so both share an oracle.
    */
  def pairNearDupStored(incTexts: DataFrame,
                        textStore: SignatureStore.Store,
                        incFps: DataFrame, corFps: DataFrame,
                        idCol: String, textCol: String,
                        fpIdCol: String, fpCol: String,
                        shingleSize: Int = 3, bands: Int = 8,
                        rowsPerBand: Int = 2, threshold: Double = 0.5,
                        maxHamming: Int = 3,
                        maxBucket: Int = 64): DataFrame = {
    // the two modality legs are independent until pairCompose, and
    // each runs eager bounded-checkpoint jobs at build time (text:
    // fused signature + candidate pairs; media: decode + banding).
    // Submit them from two threads so the media decode overlaps the
    // text signing instead of queueing behind it (guide §2.6 — the
    // scheduler happily runs both, and each leg's jobs are far from
    // saturating the cluster: they are small fixed-latency stages).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val tF = Future(minhashStoredProbeFromSig(
      minhashIncSig(incTexts, idCol, textCol, shingleSize, bands,
        rowsPerBand), textStore, bands, rowsPerBand, threshold, maxBucket))
    val mF = Future(hammingProbeFromBanded(
      hammingBandedCkpt(incFps, fpIdCol, fpCol), corFps, fpIdCol, fpCol,
      maxHamming, maxBucket))
    val (incIds, tver) = Await.result(tF, Duration.Inf)
    val (_, mver) = Await.result(mF, Duration.Inf)
    pairCompose(incIds, tver, mver)
  }

  /** The shared pair-rule tail: join the two modalities' verified
    * candidates on (incoming pair, prior pair), pick the best
    * both-sides match (highest jaccard, lowest Hamming, lowest prior
    * id), and surface every incoming pair with its decision.
    */
  private[graft] def pairCompose(incIds: DataFrame, tver: DataFrame,
                                 mver: DataFrame): DataFrame = {
    // both verdict sets are candidate-bounded; broadcast the media side
    // so the composition join is map-side on the text-verify stream
    // (the planner's post-join estimates otherwise pick a
    // SortMergeJoin with two exchanges of candidate frames, guide §3.1)
    val both = tver.select(col("inc_id").cast("long").as("inc_id"),
        col("dup_id").cast("long").as("dup_id"), col("jaccard"))
      .join(broadcast(mver.select(col("inc_id").cast("long").as("inc_id"),
        col("dup_id").cast("long").as("dup_id"), col("hamming"))),
        Seq("inc_id", "dup_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("inc_id"))
      .orderBy(col("jaccard").desc, col("hamming").asc, col("dup_id").asc)
    val best = both
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("inc_id").as("doc_id"), col("dup_id").as("dup_of"),
        col("jaccard"), col("hamming"))
    incIds.join(broadcast(best), Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of"), col("jaccard"), col("hamming"),
        col("dup_of").isNull.as("is_new"))
  }

  /** n-gram Jaccard similarity via an inverted-index join: explode hashed
    * shingles, join on the 8-byte hash (only co-shingled docs meet), count
    * shared shingles per pair. Each posting row CARRIES its document's
    * set size, so the Jaccard denominator falls out of the pair
    * aggregation itself — no per-document side frame, no broadcast that
    * would grow O(n_docs) at corpus scale. SQL-expressible — carries the
    * DuckDB oracle.
    *
    * The threshold compares the UNROUNDED ratio on both engines (the
    * division of identical integers is bit-identical everywhere); only
    * the emitted column is rounded for display.
    *
    * At corpus scales where the candidate join's quadratic term dominates
    * (one ubiquitous shingle = one quadratic bucket — nothing caps it
    * here), use [[ngramJaccardSortedPrefix]]: identical output
    * (equivalence-tested), prefix-pruned index. Kept as the brute-force
    * side of that equivalence test.
    */
  def ngramJaccard(df: DataFrame, idCol: String, textCol: String,
                   shingleSize: Int = 3, threshold: Double = 0.2): DataFrame = {
    val tokenized = graft.util.Par.spread(df)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("_toks"))
    val withSh = tokenized.select(col("doc_id"),
      TextOps.shinglesFromTokens(col("_toks"), shingleSize).as("sh"))
    val sh = withSh.select(col("doc_id"), size(col("sh")).as("n_sh"),
      explode_outer(graft.functions.Kernels.xxSortedHashes(col("sh"))).as("h"))
    val pairsShared = sh.as("x").join(sh.as("y"), Seq("h"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.n_sh").as("n_a"), col("y.n_sh").as("n_b"))
      .agg(count(lit(1)).as("inter"))
    pairsShared
      .withColumn("_j", col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")))
      .filter(col("_j") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("_j"), 6).as("jaccard"))
  }

  /** Prefix-filtered n-gram Jaccard with the prefix computed INSIDE the
    * shingle array: the consistent global order the AllPairs bound needs
    * is plain xxhash64 order, so each document's prefix is just the
    * `n − ⌈t·n⌉ + 1` smallest hashes of its own array —
    * `array_sort` + `slice`, a pure projection. Zero shuffles touch the
    * posting list before the candidate self-join (a rarest-first global
    * order would need three: frequency groupBy, frequency join, per-doc
    * window), and candidates verify exactly, so with `maxDf = 0` the
    * output is identical to [[ngramJaccard]] (equivalence-tested).
    *
    * Trade vs. rarest-first: a shingle of corpus frequency f lands in a
    * random ~(1−t) fraction of its documents' prefixes, so a hot-shingle
    * bucket still holds ~(1−t)·f postings — a (1−t)⁻² ≈ 25× pair
    * reduction at t = 0.8, but not the near-total exclusion rarest-first
    * ordering gives; `maxDf` is the cap for corpora dominated by a few
    * ubiquitous shingles.
    *
    * INPUT CONTRACT: `idCol` must be unique in `df` (one text per id),
    * as for [[minhashLsh]]: [[verifyCandidates]] stitches each pair's two
    * hash arrays back with a one-row-per-role aggregation, so duplicate
    * ids collapse to an arbitrary representative. Not checked at run
    * time: a check would cost a job.
    */
  def ngramJaccardSortedPrefix(df: DataFrame, idCol: String,
                               textCol: String, shingleSize: Int = 3,
                               threshold: Double = 0.2,
                               maxDf: Int = 0): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"threshold in [0,1], got $threshold")
    val tokenized = graft.util.Par.spread(df)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("_toks"))
    val withSh = tokenized.select(col("doc_id"),
      TextOps.shinglesFromTokens(col("_toks"), shingleSize).as("sh"))
    // hash + sort in one codegen'd pass (Kernels.xxSortedHashes)
    val hashedAll = withSh.select(col("doc_id"),
      graft.functions.Kernels.xxSortedHashes(col("sh")).as("_hs"))
    // maxDf > 0 = BOILERPLATE-BLIND mode (the spanPairs df-cap
    // convention): shingles present in more than maxDf documents are
    // dropped from the SETS themselves before the prefix, the
    // candidate join, and the verify — so the AllPairs prefix bound
    // stays sound over the filtered arrays and the output jaccard
    // measures similarity over DISTINCTIVE shingles. This is the
    // scale law: a corpus-frequency-f shingle generates ~((1−t)·f)²
    // candidate pairs, and on Zipf text the hottest f grows linearly
    // with the corpus — quadratic with a fixed index, ≤ maxDf·postings
    // (linear) under an ABSOLUTE cap. (A relative cap — df ≤ p·n —
    // re-admits the quadratic term; sharing a shingle with >maxDf
    // documents stops being evidence of pairwise reuse at ANY corpus
    // size, which is what makes the absolute form the right law.)
    val hashed =
      if (maxDf <= 0) hashedAll
      else {
        // ONE posting exchange shared by the df count and the join's
        // probe side (guide §2.4): occ is keyed on h for both
        // consumers, and each un-shared fork replayed the documents
        // scan + tokenize/shingle/hash kernel + explode (the r16
        // executed plan ran the posting subplan twice)
        val occ = hashedAll.select(col("doc_id"),
          explode_outer(col("_hs")).as("h"))
          .repartition(col("h"))
        // per-doc shingles are already distinct, so count(*) = df;
        // shuffle_hash keeps a mis-estimated posting side from being
        // broadcast (the spanPairs df-probe lesson)
        val eligible = occ.groupBy(col("h"))
          .agg(count(lit(1)).as("_df"))
          .filter(col("_df") <= maxDf)
          .select(col("h"))
        occ.join(eligible.hint("shuffle_hash"), Seq("h"))
          .groupBy(col("doc_id"))
          .agg(sort_array(collect_list(col("h"))).as("_hs"))
      }
    val prefix = hashed
      .select(col("doc_id"), size(col("_hs")).as("n"),
        posexplode_outer(slice(col("_hs"), lit(1),
          (size(col("_hs")) -
            ceil(lit(threshold) * size(col("_hs"))).cast("int") + 1)))
          .as(Seq("p", "h")))

    // Two candidate prunes, both sound because the exact verify only
    // needs the FIRST shared prefix element of a qualifying pair to
    // survive (dedup keeps a pair if ANY of its matches passes):
    //  - length filter (AllPairs): J ≥ t forces min(nₐ,n_b) ≥ t·max;
    //  - positional filter (PPJoin): a match at 0-based prefix
    //    positions (i, j) bounds the overlap by min(nₐ−i, n_b−j),
    //    which must reach the J ≥ t overlap requirement
    //    ⌈t/(1+t)·(nₐ+n_b)⌉. At the pair's first shared element the
    //    bound is loosest, so a true pair always keeps that match.
    // −1e-9 guards the exactly-integral case: if float error nudged
    // t/(1+t)·(nₐ+n_b) just above its true integer value, the ceil
    // would overshoot by one and drop a boundary pair
    val minOverlap = ceil(lit(threshold / (1 + threshold)) *
      (col("x.n") + col("y.n")) - lit(1e-9))
    val cand = prefix.as("x").join(prefix.as("y"), Seq("h"))
      .filter(col("x.doc_id") < col("y.doc_id") &&
        least(col("x.n"), col("y.n")).cast("double") >=
          lit(threshold) * greatest(col("x.n"), col("y.n")) &&
        least(col("x.n") - col("x.p"), col("y.n") - col("y.p")) >=
          minOverlap)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .dropDuplicates("doc_a", "doc_b")

    verifyCandidates(cand, hashed, threshold)
  }

  /** Exact-verify stage shared by the prefix-filtered Jaccard joins:
    * re-join the candidate pairs to the full SORTED HASH arrays (longs —
    * ~8× fewer shuffle bytes than the shingle strings, and the verify
    * join's payload dominates this operator's cost) and keep pairs whose
    * true (unrounded) Jaccard clears the threshold. Set size and
    * intersection on the hash arrays equal those on the string sets up
    * to xxhash64 collisions within a pair's union (P ≈ |union|²/2⁶⁴ —
    * vanishing, and the same contract the plain inverted-index form
    * already has).
    *
    * INPUT CONTRACT: `hashed` has one row per `doc_id` (the caller's ids
    * are unique). With a duplicate id the role stitch below keeps an
    * arbitrary one of its arrays, where a double join would emit every
    * combination. Not checked at run time: a check would cost a job.
    */
  private def verifyCandidates(cand: DataFrame, hashed: DataFrame,
                               threshold: Double): DataFrame = {
    // ONE pass over the hash arrays (the minhashLsh melt, guide §8):
    // joining `hashed` by doc_a and again by doc_b evaluated its whole
    // subplan twice (at scale: two exchanges of the corpus hash
    // arrays). Melt each candidate pair to (pair, member), join the
    // arrays once on doc_id, stitch the two roles back with a
    // candidate-bounded aggregation. `cand` is deduped (doc_a, doc_b)
    // and `hashed` has one row per doc, so exactly one row per
    // (pair, role) exists — the ignoreNulls first is deterministic;
    // the not-null filter replays the inner joins' missing-member drop
    // structurally (a candidate doc always has a hashed row today).
    // checkpoint + count the candidate sliver and pick the verify-side
    // strategy from the REAL count — the minhashLsh melt's
    // size-adaptive shape (broadcast the sliver while it fits, build
    // it in a shuffled-hash join past the bound; never let estimates
    // broadcast or sort the corpus hash arrays)
    val candC = cand.localCheckpoint()
    val nCand = candC.count()
    val melted = candC.select(col("doc_a"), col("doc_b"),
      explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    val meltedSide =
      if (nCand <= LshVerifyBroadcastMaxPairs) broadcast(melted)
      else melted.hint("shuffle_hash")
    hashed.join(meltedSide, "doc_id")
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(
        first(when(col("doc_id") === col("doc_a"), col("_hs")),
          ignoreNulls = true).as("hs_a"),
        first(when(col("doc_id") === col("doc_b"), col("_hs")),
          ignoreNulls = true).as("hs_b"))
      .filter(col("hs_a").isNotNull && col("hs_b").isNotNull)
      .withColumn("inter",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("long"))
      .withColumn("_j", col("inter").cast("double") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")))
      .filter(col("_j") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("inter"),
        round(col("_j"), 6).as("jaccard"))
  }

  /** Connected components over near-duplicate pairs: pair emitters
    * ([[minhashLsh]], [[simhashPairs]], …) find EDGES, but the dedup
    * decision needs the transitive closure — a~b and b~c must collapse
    * into one cluster even when a~c was never scored.
    *
    * Min-label propagation with POINTER JUMPING: every node starts
    * labeled min(self, neighbors); each round propagates the min over
    * neighbors' labels, then shortcuts each label one hop through the
    * label table itself (`label(v) ← min(label(v), label(label(v)))`) —
    * the hash-to-min acceleration that converges in O(log diameter)
    * rounds instead of O(diameter) (measured 10 → 4 on the SimHash pair
    * graph at sf0.1). Labels only ever decrease and always hold some
    * component member's id, so the fixpoint — every edge's endpoints
    * agreeing — is still the component minimum.
    * Each round is one edge join + one map-side-combinable
    * min-aggregate + one node-sized label self-join, all keyed on node
    * id, moving O(edges) rows — never all-pairs. Labels are
    * materialized per round (`localCheckpoint`) to truncate the
    * otherwise exponentially deepening lineage; convergence is detected
    * from a one-row aggregate: labels only ever decrease, so the label
    * SUM strictly decreases until fixpoint. The sum is taken as
    * decimal(38,0): with node ids bounded by 2⁶³, exceeding 10³⁸ would
    * take > 10¹⁹ pair-graph nodes — unreachable — so a NULL sum can only
    * mean genuine overflow and fails loudly rather than comparing equal
    * across two saturated rounds.
    *
    * The label/edge tables are O(nodes-in-pairs) — a sliver of the
    * corpus even at 100 TB (near-dup pairs, not documents). Running the
    * loop's ~3 shuffle stages × O(log diameter) rounds at the
    * corpus-sized `spark.sql.shuffle.partitions` drowns a small pair
    * graph in near-empty tasks (measured: ~8s of scheduling floor on a
    * 13-edge graph at 32 partitions). The loop therefore sizes its own
    * shuffle width from the measured edge count (~500k edge rows per
    * partition, never above the session setting — a billion-edge graph
    * at cluster scale still gets the full configured width) and
    * restores the session conf when done.
    *
    * Output: (doc_id, cluster_id, cluster_size) for every node that
    * appears in a pair; cluster_id = min doc_id of the component.
    *
    * SIZE-ADAPTIVE, like Spark's own broadcast-join threshold: a pair
    * graph at or below `localEdgeThreshold` edges (default 2²⁰ ≈ 1M —
    * ~16 MB of longs, broadcast-scale driver data) is solved by
    * driver-side union-find in one pass over the collected edges: the
    * SAME min-label components, with zero iterative jobs. Near-dup pair
    * graphs are a sliver of any corpus, but a 100 TB corpus can still
    * push past the threshold — the distributed fixpoint loop below is
    * the path for that regime (and is pinned by equivalence tests that
    * force `localEdgeThreshold = 0`).
    */
  def clusters(pairs: DataFrame, aCol: String = "doc_a",
               bCol: String = "doc_b", maxRounds: Int = 64,
               localEdgeThreshold: Long = 1L << 20): DataFrame = {
    // checkpoint the DIRECTED pairs before mirroring: a union of two
    // references to the un-materialized pairs frame evaluates the whole
    // pair-generation subplan (LSH, verify joins) twice in one action
    val p = pairs
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .localCheckpoint() // pair generation must run once, and never per round
    val spark = p.sparkSession
    val edgeCount = p.count() // cheap: counts the checkpointed partitions
    if (edgeCount == 0)
      // no near-dups ⇒ empty closure (callers coalesce absent nodes to
      // themselves); skip the loop — and its conf dance — entirely
      return p.select(col("src").as("doc_id"), col("dst").as("cluster_id"),
        lit(0L).as("cluster_size"))
    if (edgeCount <= localEdgeThreshold) return clustersLocal(p)
    val shuffleKey = "spark.sql.shuffle.partitions"
    val sessionParts = spark.conf.get(shuffleKey).toInt
    val k = math.max(1L, math.min(sessionParts.toLong,
      edgeCount / 500000L + 1)).toInt
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val s = df.agg(sum(col("label").cast("decimal(38,0)"))).head()
        .getDecimal(0)
      require(s != null,
        "Dedup.clusters: label sum overflowed decimal(38,0) — cannot " +
          "detect convergence safely at this graph size")
      s
    }
    val prevParts = spark.conf.get(shuffleKey)
    spark.conf.set(shuffleKey, k.toString)
    var labels: DataFrame = null
    try {
      // mirror once and pin at loop width: every round re-reads this
      // frame, so its checkpoint partitioning (hash on the join key)
      // keeps the per-round map stages k-wide instead of corpus-wide
      val edges = p.union(p.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(k, col("dst"))
        .localCheckpoint()
      // init fused with the first propagation round: label₀(v) =
      // min(v, neighbors(v)) — one less join+checkpoint round to the
      // fixpoint than the plain label₀(v) = v seeding (shallow clusters,
      // the common near-dup case, then converge in a single check round)
      labels = edges.select(col("src").as("node"), col("dst").as("label"))
        .union(edges.select(col("src").as("node"), col("src").as("label")))
        .groupBy("node").agg(min("label").as("label"))
        .localCheckpoint()
      var prevSum = labelSum(labels)
      var rounds = 0
      var converged = false
      while (!converged && rounds < maxRounds) {
        // propagate: min over self + neighbors' labels. Checkpointed
        // before the self-join below references it twice (the same
        // double-evaluation trap the edges frame had).
        val prop = edges.join(labels, edges("dst") === labels("node"))
          .select(col("src").as("node"), col("label"))
          .union(labels)
          .groupBy("node").agg(min("label").as("label"))
          .localCheckpoint()
        // pointer jump: follow each label one hop through the label table
        // (a label is itself a node id, so this halves remaining depth).
        // toDF mints fresh attribute ids — a plain self-join of the
        // checkpointed frame trips Catalyst's union-constraint rewrite
        val jumpTable = prop.toDF("_n", "_l")
        labels = prop.join(jumpTable, col("label") === col("_n"), "left")
          .select(col("node"),
            least(col("label"), coalesce(col("_l"), col("label")))
              .as("label"))
          .localCheckpoint()
        val s = labelSum(labels)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
        rounds += 1
      }
      // pointer jumping converges in O(log diameter) rounds, so 64
      // covers any graph with diameter < 2⁶⁴ — exhausting it means the
      // invariants broke, and unconverged labels are NOT components:
      // fail loudly rather than hand a silently-wrong dedup decision
      // downstream
      require(converged,
        s"Dedup.clusters: no fixpoint after $maxRounds rounds " +
          s"($edgeCount edges) — refusing to return unconverged labels")
    } finally spark.conf.set(shuffleKey, prevParts)
    // the final window executes lazily (outside the conf override), so
    // pin its exchange to the loop width explicitly — label tables stay
    // k-sized however the caller's session is configured
    labels.repartition(k, col("label"))
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))))
  }

  /** Driver-side closure for broadcast-scale pair graphs: union-find
    * with path compression, union-by-MIN so every root IS its
    * component's minimum id — byte-identical output to the distributed
    * fixpoint (equivalence-tested in DedupSpec). The result ships back
    * as a LocalRelation, so a downstream [[resolve]] join broadcasts it
    * for free.
    */
  private def clustersLocal(p: DataFrame): DataFrame = {
    val spark = p.sparkSession
    val edges = p.collect() // bounded by localEdgeThreshold at the call site
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    edges.foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val nodes = parent.keySet().toArray(Array.empty[java.lang.Long]).map(_.longValue())
    val labeled = nodes.map(n => (n, find(n)))
    val sizes = labeled.groupBy(_._2).map { case (c, g) => c -> g.length.toLong }
    import spark.implicits._
    labeled.toSeq.map { case (n, c) => (n, c, sizes(c)) }
      .toDF("doc_id", "cluster_id", "cluster_size")
  }

  /** PASSAGE-level duplicate detection: document pairs sharing at least
    * `minShared` winnowing fingerprints ([[graft.textops.TextOps.winnowing]]
    * — each fingerprint witnesses a shared substring of ≥ k chars), with
    * the count of shared fingerprints as the overlap strength. Catches
    * quote/boilerplate/excerpt reuse that document-level MinHash misses
    * (a long doc embedding a copied paragraph has low whole-doc Jaccard
    * but many shared span fingerprints).
    *
    * Scale shape — the inverted-index discipline every candidate
    * generator here follows:
    *   - fingerprints carry (doc_id, fp) ONLY; no text shuffles;
    *   - `maxDf` drops fingerprints present in more docs (corpus-wide
    *     boilerplate: license headers, navigation chrome) BEFORE the
    *     self-join — the df filter is one combinable count aggregate,
    *     and it bounds the per-fp join fan-out at maxDf², the same
    *     hot-bucket cap as the LSH band joins (a boilerplate span shared
    *     by a million docs must not generate 10¹² pairs — and it is
    *     noise, not signal, for pairwise overlap anyway);
    *   - the pair count is again one combinable aggregate on (a, b).
    */
  /** Corpus-scaled winnow window — the [[graft.simops.Similarity.nearDupPairsBanded]]
    * band-bits law applied to the fingerprint DENSITY knob: winnowing
    * selects ~2/(w+1) of k-gram hashes, and with a FIXED w the
    * candidate volume of the span self-join grows with every decade of
    * corpus (the r7 100× anchor measured 3.9×/decade at w=4 — the
    * worst ratio on the board). Growing w by one per corpus DOUBLING
    * past the `knee` keeps posting volume per document shrinking as
    * log(n) while the winnowing guarantee degrades gracefully: any
    * verbatim match of ≥ w+k−1 tokens is still fingerprinted, i.e. at
    * larger corpora the operator asks for slightly longer shared
    * passages — exactly the trade a 100 TB dedup wants (short common
    * phrases stop being evidence of reuse long before that).
    *
    * Integer-exact on purpose: `w0 + ceil(log₂(ceil(n/knee)))` via
    * bit-position arithmetic, so the DuckDB oracle replays the
    * identical window from its own `count(*)` with `length(bin(q−1))`
    * — no float log anywhere near an engine boundary.
    */
  def scaledWinnowWindow(n: Long, w0: Int = 4, knee: Long = 65536L): Int =
    if (n <= knee) w0
    else {
      val q = (n + knee - 1) / knee
      w0 + (64 - java.lang.Long.numberOfLeadingZeros(q - 1))
    }

  def spanPairs(df: DataFrame, idCol: String, textCol: String,
                k: Int = 8, w: Int = 4, minShared: Int = 5,
                maxDf: Int = 16): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDf >= 2, s"maxDf must be >= 2 to form any pair, got $maxDf")
    // w <= 0 = AUTO: derive the window from the corpus size (one
    // count() action, the Sampling.cappedPct precedent)
    val wEff = if (w > 0) w else scaledWinnowWindow(df.count())
    // No localCheckpoint on the corpus-fingerprint frames: checkpoint
    // blocks are deserialized rows with no unpersist hook, so each
    // invocation leaked ~600 MB into a long-lived session's
    // MemoryStore at the 100× anchor (the noveltyScore lesson). The
    // planner hazard the checkpoints used to fix — the pre-explode
    // size estimate underselling fingerprint volume so a data-sized
    // side got BROADCAST (measured r6: ~5M-row build, 9s → 18s
    // bimodal) — is fixed at the ROOT with SHUFFLE_HASH hints: no
    // side can be broadcast off a bad estimate. The hints buy
    // broadcast safety, not exchange reuse: the df aggregate's
    // exchange (above a partial HashAggregate) and the probe's (above
    // the raw kernel projection) don't canonicalize equal, so the
    // winnow kernel recomputes per consumer — cheap scan-stage work,
    // deliberately preferred over caching a corpus-scale frame. AQE's
    // skew split handles shuffled-hash joins.
    val fps = graft.textops.TextOps.winnowing(df, idCol, textCol, k, wEff)
      .select(col(idCol).cast("long").as("_id"), col("fp"))
    val rare = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("_df"))
      .filter(col("_df") <= maxDf)
      .select(col("fp"))
    val pruned = fps.join(rare.hint("shuffle_hash"), "fp")
    pruned.as("a").join(pruned.as("b").hint("shuffle_hash"),
        col("a.fp") === col("b.fp") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("id_a"), col("b._id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Passage-level reuse against the EXISTING corpus — the span twin of
    * [[minhashIncremental]]: for each incoming document, which corpus
    * document shares the most winnow fingerprints (≥ `minShared`), i.e.
    * did this crawl increment re-serve passages the corpus already has?
    *
    * Scale shape (the corpus NEVER shuffles):
    *  - both sides' fingerprints come from the one-pass codegen'd
    *    winnow kernel (narrow, per-doc);
    *  - only the increment's (id, fp) frame is checkpointed and
    *    broadcast; the corpus fp stream passes through a broadcast
    *    join on the increment's fingerprint keys;
    *  - the `maxDf` boilerplate cap runs POST-probe — every corpus row
    *    carrying a probed fp matches the probe, so the matched count
    *    per fp IS that fp's corpus df, and capping it there bounds
    *    per-fp fan-out at maxDf before the pair aggregate without an
    *    aggregate over the full corpus (the [[minhashIncremental]]
    *    skew-guard placement).
    *
    * Output: one row per incoming document — (doc_id, dup_of: corpus
    * doc sharing the most fingerprints or null, n_shared or null,
    * is_new). Ties break (n_shared desc, lowest corpus id).
    */
  def spanIncremental(incoming: DataFrame, corpus: DataFrame,
                      idCol: String, textCol: String, k: Int = 8,
                      w: Int = 4, minShared: Int = 5,
                      maxDf: Int = 16): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val incFps = spanIncFps(incoming, idCol, textCol, k, w)
    val incKeys = incFps.select(col("fp")).distinct()
    val corFps = graft.textops.TextOps
      .winnowing(graft.util.Par.spread(corpus), idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("dup_id"), col("fp"))
    // the probe: corpus fingerprints stream through a broadcast join on
    // the increment's fp keys — no corpus shuffle, (id, fp) payload
    val matched = corFps.join(broadcast(incKeys), "fp")
    val capped = matched.withColumn("_df",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))))
      .filter(col("_df") <= maxDf)
    val shared = capped
      .join(broadcast(incFps), "fp")
      .groupBy(col("inc_id"), col("dup_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    spanBestDecision(incoming, idCol, shared)
  }

  /** [[spanIncremental]] against a PERSISTED winnow-fingerprint store
    * ([[SignatureStore.buildSpans]]) — probing an increment touches NO
    * corpus text: only the increment is fingerprinted (O(increment)
    * narrow work), its fp keys broadcast against the stored frame, and
    * the boilerplate cap is the store's own denormalized `df` column —
    * a parquet-pushable predicate, so boilerplate rows die at the scan.
    * The stored df equals the direct form's post-probe matched count
    * for every probed fingerprint (all corpus rows carrying a probed fp
    * match the probe), so the output is IDENTICAL to
    * [[spanIncremental]] — equivalence pinned in DedupSpec.
    *
    * Same output contract: (doc_id, dup_of, n_shared, is_new), one row
    * per incoming document.
    */
  def spanIncrementalStored(incoming: DataFrame, storeFps: DataFrame,
                            idCol: String, textCol: String, k: Int = 8,
                            w: Int = 4, minShared: Int = 5,
                            maxDf: Int = 16): DataFrame = {
    val incFps = spanIncFps(incoming, idCol, textCol, k, w)
    spanStoredProbeFromFps(incoming, incFps, storeFps, idCol, minShared,
      maxDf)
  }

  /** The increment's checkpointed winnow-fingerprint frame
    * `(inc_id, fp)` — ONE eager job paying the winnow kernel once.
    * Store-independent, so an `_updated` caller can build increment
    * B's frame concurrently with the whole A phase (guide §2.6), and
    * derive the accepted-A delta rows from it with a broadcast filter
    * instead of a second winnow pass.
    */
  private[graft] def spanIncFps(incoming: DataFrame, idCol: String,
      textCol: String, k: Int, w: Int): DataFrame =
    graft.textops.TextOps
      .winnowing(graft.util.Par.spread(incoming), idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("inc_id"), col("fp"))
      .localCheckpoint()

  /** The shared decision tail of the three span incremental forms:
    * best match per incoming doc (most shared fingerprints, lowest
    * corpus id), every incoming doc surfaced with its is_new verdict.
    */
  private def spanBestDecision(incoming: DataFrame, idCol: String,
      shared: DataFrame): DataFrame = {
    val w2 = org.apache.spark.sql.expressions.Window
      .partitionBy(col("inc_id"))
      .orderBy(col("n_shared").desc, col("dup_id").asc)
    val best = shared
      .withColumn("_rn", row_number().over(w2)).filter(col("_rn") === 1)
      .select(col("inc_id"), col("dup_id").as("dup_of"), col("n_shared"))
    incoming.select(col(idCol).cast("long").as("inc_id"))
      .join(broadcast(best), Seq("inc_id"), "left")
      .select(col("inc_id").as("doc_id"), col("dup_of"), col("n_shared"),
        col("dup_of").isNull.as("is_new"))
  }

  /** The stored span probe over an already-checkpointed increment
    * fingerprint frame (see [[spanIncrementalStored]]).
    */
  private[graft] def spanStoredProbeFromFps(incoming: DataFrame,
      incFps: DataFrame, storeFps: DataFrame, idCol: String,
      minShared: Int, maxDf: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val incKeys = incFps.select(col("fp")).distinct()
    val shared = storeFps.filter(col("df") <= maxDf)
      .select(col("doc_id").as("dup_id"), col("fp"))
      .join(broadcast(incKeys), "fp")
      .join(broadcast(incFps), "fp")
      .groupBy(col("inc_id"), col("dup_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    spanBestDecision(incoming, idCol, shared)
  }

  /** [[spanIncrementalStored]] against a base store PLUS append-only
    * `(doc_id, fp)` DELTAS ([[SignatureStore.appendSpansWrite]]) — the
    * probe a literal daily ingest runs between compactions: appends
    * cost O(increment) parquet writes (no store rewrite), and the
    * effective document frequency (base df + delta rows per fp) is
    * derived lazily HERE, for probed fingerprints only.
    *
    * Scale shape: the base store is scanned twice, never shuffled —
    * once with the pushed `df <= maxDf` predicate for candidate rows
    * (effective df only grows, so base df > maxDf rows can never
    * qualify), and once broadcast-probed by the delta∩probe fp keys to
    * recover the true base df for the delta rows' cap (a fp whose base
    * df already exceeds the cap must suppress its delta rows too).
    * Both delta-side aggregates are delta-sized. Output is IDENTICAL
    * to [[spanIncrementalStored]] against
    * [[SignatureStore.mergeSpanDeltas]] of the same base+deltas —
    * equivalence pinned in DedupSpec; [[SignatureStore.compactSpans]]
    * restores the single-scan probe.
    */
  def spanIncrementalStoredDelta(incoming: DataFrame, storeFps: DataFrame,
                                 deltaFps: DataFrame, idCol: String,
                                 textCol: String, k: Int = 8, w: Int = 4,
                                 minShared: Int = 5,
                                 maxDf: Int = 16): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val incFps = spanIncFps(incoming, idCol, textCol, k, w)
    val incKeys = incFps.select(col("fp")).distinct()
    // delta rows carrying probed fps (delta-sized; forks three ways)
    val dMat = deltaFps.select(col("doc_id").as("dup_id"), col("fp"))
      .join(broadcast(incKeys), "fp").localCheckpoint()
    val dDf = dMat.groupBy(col("fp")).agg(count(lit(1)).as("_ddf"))
    // true base df for delta∩probe fps (UNfiltered scan: the pushed
    // cap on the candidate scan hides exactly the rows whose df must
    // suppress delta rows) — broadcast semi-probe, base never shuffles
    val baseDfForDelta = storeFps
      .join(broadcast(dMat.select(col("fp")).distinct()), "fp")
      .groupBy(col("fp")).agg(max(col("df")).as("_bdf"))
    val baseRows = storeFps.filter(col("df") <= maxDf)
      .select(col("doc_id").as("dup_id"), col("fp"), col("df"))
      .join(broadcast(incKeys), "fp")
      .join(broadcast(dDf), Seq("fp"), "left")
      .filter(col("df") + coalesce(col("_ddf"), lit(0L)) <= maxDf)
      .select(col("dup_id"), col("fp"))
    val deltaRows = dMat
      .join(broadcast(dDf), "fp")
      .join(broadcast(baseDfForDelta), Seq("fp"), "left")
      .filter(coalesce(col("_bdf"), lit(0L)) + col("_ddf") <= maxDf)
      .select(col("dup_id"), col("fp"))
    val shared = baseRows.unionByName(deltaRows)
      .join(broadcast(incFps), "fp")
      .groupBy(col("inc_id"), col("dup_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    spanBestDecision(incoming, idCol, shared)
  }

  /** EXACT substring-duplication spans, the published gold standard for
    * training-data dedup (Lee et al., "Deduplicating Training Data Makes
    * Language Models Better", arXiv:2107.06499 — ExactSubstr semantics,
    * here at word granularity): a token position is duplicated when its
    * k-token gram occurs at ≥ 2 (doc, pos) sites corpus-wide (including
    * within one document), and every maximal run of consecutive
    * duplicated positions extends to one span of `end_tok - start_tok`
    * tokens. Output: one row per maximal duplicated span —
    * `(doc_id, start_tok, end_tok, n_tokens)`, token offsets 0-based,
    * `end_tok` exclusive.
    *
    * The paper builds a suffix array — O(corpus) with a machine-global
    * sort. The relational formulation pays the same one corpus-sized
    * exchange but on 8-byte gram HASHES (the scan-stage kernel
    * [[graft.functions.Kernels.wordKgramXx]] tokenizes and hashes in place,
    * so text never leaves the scan): a window count over the gram hash
    * marks duplicated positions in the SAME exchange that counts them
    * (no second scan, no self-join), and everything downstream — the
    * run-grouping window keyed by doc — is duplicated-position-scale
    * only. Skewed grams (a boilerplate 20-gram shared by millions of
    * docs) cost O(occurrences) rows, never O(occurrences²).
    */
  def substrings(df: DataFrame, idCol: String, textCol: String,
                 k: Int = 20): DataFrame =
    positionalDupRuns(df, idCol,
      graft.functions.Kernels.wordKgramXx(col(textCol), k), k,
      "start_tok", "end_tok", "n_tokens")

  /** CHARACTER-granularity ExactSubstr — [[substrings]] with code-point
    * k-grams (k ≈ 50 characters, the published working point is 50
    * BYTES of UTF-8; code points here so the positions are
    * SQL-replayable) instead of word grams. Catches what word grams
    * structurally miss: verbatim runs that start or end MID-WORD —
    * templated boilerplate with interpolated values, concatenated-
    * without-spaces duplication, sub-word-boundary overlap. Output
    * offsets are 0-based code-point positions:
    * `(doc_id, start_chr, end_chr, n_chars)`, `end_chr` exclusive.
    *
    * Same scale shape as the word form: the k-gram kernel
    * ([[graft.functions.Kernels.charKgramXx]]) tokenizes and hashes in the
    * scan stage, ONE corpus exchange on the 8-byte gram hash (a
    * character position per row — ~5× the word form's row count at
    * the same corpus, still hash-only), duplicated-position scale
    * after the `n_occ >= 2` filter.
    */
  def substringsChar(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 50): DataFrame =
    positionalDupRuns(df, idCol,
      graft.functions.Kernels.charKgramXx(col(textCol), k), k,
      "start_chr", "end_chr", "n_chars")

  /** Shared ExactSubstr machinery: positional gram hashes → corpus-wide
    * occurrence count in ONE hash-keyed exchange → maximal runs of
    * duplicated positions via the `pos − row_number()` grouping.
    */
  private def positionalDupRuns(df: DataFrame, idCol: String,
                                gramHashes: org.apache.spark.sql.Column,
                                k: Int, startName: String, endName: String,
                                lenName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val grams = graft.util.Par.spread(df)
      .select(col(idCol), posexplode(gramHashes).as(Seq("pos", "h")))
    val dup = grams
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("h"))))
      .filter(col("n_occ") >= 2)
    val runs = dup
      .withColumn("run", col("pos") -
        row_number().over(Window.partitionBy(col(idCol)).orderBy(col("pos"))))
    runs.groupBy(col(idCol), col("run"))
      .agg(min(col("pos")).cast("long").as(startName),
        (max(col("pos")) + lit(k)).cast("long").as(endName))
      .select(col(idCol), col(startName), col(endName),
        (col(endName) - col(startName)).as(lenName))
  }

  /** The dedup DECISION over a whole corpus: every document mapped to the
    * id that survives for it. Docs in a near-dup component map to the
    * component's smallest id; untouched docs keep themselves. One row per
    * input document — the artifact a pipeline joins against to drop dups.
    */
  def resolve(docs: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val cc = clusters(pairs).select(col("doc_id"), col("cluster_id"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("keep_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  /** [[resolve]] with CANONICAL-BY-QUALITY selection: the kept member
    * of each near-dup cluster is the highest-quality document (6dp
    * heuristic score; ties to the smallest id), not the smallest id.
    * This is what production dedup actually ships — among near-copies
    * you keep the cleanest rendition, not an arbitrary one; smallest-id
    * ([[resolve]]) stays for pipelines that need a pure set-membership
    * answer without scoring the text.
    *
    * Scale shape: [[clusters]]' closure + ONE combinable argmax — the
    * per-cluster best is `max(q_micro·2⁴² + (2⁴²−1−id))`, the
    * (quality, smallest-id-wins) order PACKED into one long: quality
    * is already 6dp in [0,1] so `round(q·10⁶)` is an exact 20-bit
    * integer, and a packed-long max is HASH-aggregable where
    * `max(struct(q, −id))` plans a SortAggregate that sorts every
    * member row on both sides of the exchange (the LineDedup owner
    * lesson). One 8-byte partial per cluster crosses the shuffle —
    * then a cluster-keyed join back to members. No window over the
    * corpus. Ids guarded in-plan to [0, 2⁴²).
    *
    * Output: (doc_id, keep_id, kept).
    */
  def resolveBest(docs: DataFrame, idCol: String, textCol: String,
                  pairs: DataFrame): DataFrame = {
    val cc = clusters(pairs).select(col("doc_id"), col("cluster_id"))
    val m = docs.select(col(idCol).cast("long").as("doc_id"),
        graft.textops.TextOps.qualityScore(col(textCol)).as("_q"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("_grp", coalesce(col("cluster_id"), col("doc_id")))
    val Q = 1L << 42
    val guard = assert_true(col("doc_id").between(0L, Q - 1),
      lit("resolveBest: doc id outside [0, 2^42) — the packed argmax " +
        "key would overflow"))
    val best = m.groupBy(col("_grp"))
      .agg(max(when(guard.isNull,
        round(col("_q") * 1e6).cast("long") * Q +
          (lit(Q - 1) - col("doc_id")))).as("_b"))
      .select(col("_grp"), (lit(Q - 1) - col("_b") % Q).as("keep_id"))
    m.join(best, Seq("_grp"))
      .select(col("doc_id"), col("keep_id"),
        (col("doc_id") === col("keep_id")).as("kept"))
  }

  /** LEAKAGE-FREE train/val/test split: the md5 split draw is keyed on
    * the near-dup CLUSTER representative, not the document id, so a
    * whole duplicate cluster always lands in ONE split — the guard
    * against the classic eval contamination where a test document's
    * near-copy sits in train. Documents outside any cluster draw on
    * their own id (singleton cluster).
    *
    * Scale shape: [[clusters]]' closure (size-adaptive CC) + one
    * doc-keyed left join + a narrow per-row draw; the draw itself adds
    * no exchange. Split fractions are basis-point-free percents like
    * [[graft.pipeline.Pipeline.sampleStratified]].
    *
    * Output: (doc_id, keep_id, bucket, split ∈ train|val|test).
    */
  def splitLeakageFree(docs: DataFrame, idCol: String, pairs: DataFrame,
                       pctTrain: Int = 80, pctVal: Int = 10): DataFrame = {
    require(pctTrain > 0 && pctVal >= 0 && pctTrain + pctVal <= 100,
      s"bad split percents: train=$pctTrain val=$pctVal")
    val cc = clusters(pairs).select(col("doc_id"), col("cluster_id"))
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .withColumn("keep_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("bucket", graft.util.Sampling.md5Bucket(col("keep_id")))
      .select(col("doc_id"), col("keep_id"), col("bucket"),
        when(col("bucket") < pctTrain, "train")
          .when(col("bucket") < pctTrain + pctVal, "val")
          .otherwise("test").as("split"))
  }
}
