package graft.pipeline

import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a training-data pipeline runs after
  * filtering/dedup: PII scrubbing, sequence packing, and deterministic
  * stratified sampling. All three are oracle-checkable — the rules are
  * pure functions of the row (or of prefix sums both engines compute
  * identically), no RNG, no engine-specific hashing.
  */
object Pipeline {

  /** Conservative ASCII patterns valid in BOTH Java regex (Spark) and
    * RE2 (DuckDB oracle) with identical match spans.
    */
  val emailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val ipv4Pattern =
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact emails then IPv4s (order fixed — both engines must agree on
    * the intermediate string). Emits match counts and the md5 of the
    * scrubbed text rather than the text itself: at corpus scale the
    * scrubbed body goes to the sink, not through comparisons. Narrow
    * per-row transform — single scan + project, no shuffle.
    */
  def piiScrub(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val scrubbed = regexp_replace(
      regexp_replace(t, emailPattern, "<EMAIL>"), ipv4Pattern, "<IP>")
    df.select(col(idCol),
      size(regexp_extract_all(t, lit(emailPattern), lit(0))).as("n_emails"),
      size(regexp_extract_all(t, lit(ipv4Pattern), lit(0))).as("n_ipv4"),
      md5(scrubbed).as("scrub_fp"))
  }

  /** GLOBAL greedy sequence packing (the concat-then-chunk rule LLM
    * pretraining uses): lay every document's tokens end to end in
    * `idCol` order and cut packs of `budget` tokens; each document
    * reports the pack holding its first token and its offset there.
    *
    * The global running sum is computed WITHOUT a single-partition
    * window — same playbook as [[graft.lagops.DistributedLag]]:
    *
    *   1. bucket on the order key via driver-pinned literal cut points
    *      ([[graft.util.RangeBuckets]] — contiguous key ranges, and the
    *      bucket id is a pure projection, so the two subplans below can
    *      never disagree on boundaries the way a forked
    *      `repartitionByRange` + `spark_partition_id()` could);
    *   2. per-bucket prefix sums via a partitioned window (its hash
    *      exchange on `_bucket` is the only data shuffle);
    *   3. per-bucket totals (a `numBuckets`-row frame) cumsum'd and
    *      broadcast back as each bucket's base offset.
    *
    * `base + within-bucket prefix` equals the global prefix sum for ANY
    * boundary placement, so results are exact regardless of where the
    * approximate quantiles land. The DuckDB oracle states the same
    * thing as one plain global window.
    */
  def seqPack(df: DataFrame, idCol: String, textCol: String,
              budget: Int, numBuckets: Int = 32,
              counter: Column => Column = TextOps.tokenCount): DataFrame =
    // materialize the narrow counted frame ONCE (id + token count, no
    // text): seqPackCounted's two prefix-sum branches each re-read
    // their input, so an unmaterialized frame would tokenize the whole
    // corpus twice ([[corpusClean]] checkpoints at the same point for
    // the same reason). `counter` picks the token unit — whitespace by
    // default, [[TextOps.bpeTokenCount]] for budgets in real tokenizer
    // units.
    seqPackCounted(
      graft.util.Par.spread(df).select(col(idCol),
        counter(col(textCol)).cast("long").as("n_tokens"))
        .localCheckpoint(),
      idCol, budget, numBuckets)

  /** [[seqPack]] over a pre-counted `(idCol, n_tokens)` frame — the
    * entry point for pipelines that already tokenized (or that want to
    * materialize the narrow counted frame instead of re-reading text,
    * as [[corpusClean]] does).
    */
  def seqPackCounted(counted: DataFrame, idCol: String,
                     budget: Int, numBuckets: Int = 32): DataFrame =
    seqPackOrdered(counted, Seq(idCol), budget, numBuckets)

  /** [[seqPackCounted]] under a COMPOSITE total order: buckets cut on
    * the first order column (equal keys share a bucket, so the
    * bucketing stays monotone in the leading key), windows order by
    * the full column list, and every order column rides through to the
    * output — [[corpusShuffle]] uses this to pack in shuffle-key order
    * while keeping the document id beside its key.
    */
  def seqPackOrdered(counted: DataFrame, orderCols: Seq[String],
                     budget: Int, numBuckets: Int = 32): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(orderCols.nonEmpty, "seqPackOrdered needs at least one order column")
    val keyCol = orderCols.head
    // boundary sampling needs ONLY the leading key column — the explicit
    // select guarantees the quantile job never evaluates n_tokens (which
    // for an unmaterialized caller frame could be a full tokenization pass)
    val bounds = graft.util.RangeBuckets.boundaries(
      counted.select(col(keyCol)), keyCol, numBuckets)
    val withTok = counted
      .select(orderCols.map(col) :+ col("n_tokens"): _*)
      .withColumn("_bucket",
        graft.util.RangeBuckets.bucketCol(col(keyCol), bounds))

    val wIn = Window.partitionBy(col("_bucket"))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val inBucket = withTok
      .withColumn("_pre_in", coalesce(sum(col("n_tokens")).over(wIn), lit(0L)))

    val wBase = Window.orderBy(col("_bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val bases = withTok.groupBy(col("_bucket"))
      .agg(sum(col("n_tokens")).as("_tot"))
      .withColumn("_base", coalesce(sum(col("_tot")).over(wBase), lit(0L)))
      .select(col("_bucket"), col("_base"))

    inBucket.join(broadcast(bases), "_bucket")
      .withColumn("_prefix", col("_base") + col("_pre_in"))
      .select(orderCols.map(col) ++ Seq(col("n_tokens"),
        floor(col("_prefix") / budget).cast("long").as("pack_id"),
        (col("_prefix") % budget).as("pack_offset")): _*)
  }

  /** Deterministic global corpus shuffle + sequence packing — the
    * shuffle-before-pack step a pretraining data build runs so a pack
    * never holds long runs of consecutive same-source documents. The
    * shuffle key is md5(seed, id): reproducible across runs and
    * engines, re-drawn by changing the seed, and uniform enough that
    * the range-bucketed prefix sum stays balanced without resampling
    * quantiles (uniform keys are the BEST case for [[RangeBuckets]]).
    * Key ties (60-bit collisions) break on the id, so the order — and
    * with it every pack assignment — is total and deterministic.
    *
    * Same scale shape as [[seqPack]]: one narrow tokenize+key pass
    * materialized without the text body, then the two-pass distributed
    * prefix sum; no global sort, no single-partition exchange.
    */
  def corpusShuffle(df: DataFrame, idCol: String, textCol: String,
                    budget: Int, seed: String,
                    numBuckets: Int = 32): DataFrame = {
    val counted = graft.util.Par.spread(df)
      .select(col(idCol),
        TextOps.tokenCount(col(textCol)).cast("long").as("n_tokens"),
        shuffleKey(col(idCol), seed).as("shuffle_key"))
      .localCheckpoint()
    seqPackOrdered(counted, Seq("shuffle_key", idCol), budget, numBuckets)
  }

  /** 60-bit reproducible shuffle key: the top 15 hex digits of
    * md5(seed || '-' || id) as a non-negative long — the same
    * md5-as-uniform-hash idiom as [[md5Bucket]], kept full-width so
    * collisions (and therefore tie-breaks) are rare.
    */
  private def shuffleKey(id: Column, seed: String): Column =
    conv(substring(md5(concat(lit(seed + "-"), id.cast("string"))), 1, 15),
      16, 10).cast("long")

  /** Benchmark DECONTAMINATION: flag corpus documents sharing at least
    * `minShared` distinct word n-grams with any probe (benchmark/eval)
    * document — the overlap check every pretraining pipeline runs so
    * eval sets don't leak into training data.
    *
    * Scale shape: probes are the tiny side (an eval suite is a few
    * thousand rows against a 100 TB corpus) — their distinct shingle
    * hashes are built narrow and BROADCAST; the corpus side is one
    * narrow shingle pass + a broadcast semi-join-shaped inner join, then
    * one map-side-combinable count per doc. The corpus never shuffles
    * its shingles; only (doc_id, matched-hash) rows reach the count.
    * Probe docs themselves are excluded from the output (a benchmark
    * row in the corpus is contamination of ITSELF, not a finding).
    *
    * A BLOOM pre-filter (built once driver-side over the probe hashes,
    * ~10 bits/hash at 1% fpp — far smaller than the broadcast hash
    * relation) sits in the corpus scan's codegen stage and drops the
    * overwhelmingly-non-matching exploded shingle rows with one bitset
    * probe each, before they reach the join's hash-relation lookup.
    * False positives just proceed to the exact join, so results are
    * IDENTICAL — the bloom only cuts per-row work in the 100 TB stage.
    */
  def decontaminate(corpus: DataFrame, probes: DataFrame, idCol: String,
                    textCol: String, shingleSize: Int = 5,
                    minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val probeIds = probes.select(col(idCol).as("doc_id")).distinct()
    // materialized once: the count, the bloom build, and the broadcast
    // join all re-read this tiny-by-contract frame
    val probeHashes = shingleHashes(probes, idCol, textCol, shingleSize)
      .select(col("h")).distinct()
      .localCheckpoint()
    val bloomBytes = bloomOf(probeHashes)
    shingleHashes(corpus, idCol, textCol, shingleSize)
      .join(broadcast(probeIds), Seq("doc_id"), "left_anti")
      .filter(mightContain(bloomBytes, col("h")))
      .join(broadcast(probeHashes), Seq("h"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Contamination PROVENANCE: the per-(corpus doc, probe doc) overlap
    * report behind [[decontaminate]]'s boolean gate — which eval
    * document leaked into which training document, and how hard. The
    * audit artifact a release review wants next to the drop decision
    * (and the input for probe-set attribution: one leaky benchmark
    * shard shows up as a column of rows here).
    *
    * Identical scale shape to [[decontaminate]] — probe (id, hash)
    * rows broadcast instead of bare hashes (same tiny-side contract;
    * an eval suite is a few thousand docs), bloom pre-filter on the
    * corpus scan, corpus shingles never shuffle; the only addition is
    * the probe id in the join payload and the (corpus, probe) group
    * key. Output: (doc_id, probe_id, n_shared) for pairs sharing at
    * least `minShared` distinct n-grams.
    */
  def decontaminatePairs(corpus: DataFrame, probes: DataFrame,
                         idCol: String, textCol: String,
                         shingleSize: Int = 5,
                         minShared: Int = 1): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val probeIds = probes.select(col(idCol).as("doc_id")).distinct()
    val probeHashes = shingleHashes(probes, idCol, textCol, shingleSize)
      .dropDuplicates("doc_id", "h")
      .select(col("doc_id").as("probe_id"), col("h"))
      .localCheckpoint()
    val bloomBytes = bloomOf(probeHashes.select(col("h")).distinct())
    shingleHashes(corpus, idCol, textCol, shingleSize)
      .join(broadcast(probeIds), Seq("doc_id"), "left_anti")
      .filter(mightContain(bloomBytes, col("h")))
      .join(broadcast(probeHashes), Seq("h"))
      .groupBy(col("doc_id"), col("probe_id"))
      .agg(countDistinct(col("h")).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** One narrow pass to (doc_id, shingle-hash) rows — shared by the
    * decontamination pair/gate forms so the shingle definition cannot
    * drift between them.
    */
  private def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                            shingleSize: Int): DataFrame =
    graft.util.Par.spread(df)
      .select(col(idCol).as("doc_id"),
        TextOps.tokens(lower(col(textCol))).as("_toks"))
      .select(col("doc_id"),
        explode_outer(graft.functions.Kernels.xxSortedHashes(
          TextOps.shinglesFromTokens(col("_toks"), shingleSize))).as("h"))

  /** Driver-built Bloom filter bytes over a (small, checkpointed)
    * hash frame — the corpus-scan pre-filter for the decontamination
    * joins.
    */
  private def bloomOf(hashes: DataFrame): Array[Byte] = {
    val n = math.max(1L, hashes.count())
    val bloom = hashes.stat.bloomFilter("h", n, 0.01)
    val os = new java.io.ByteArrayOutputStream()
    bloom.writeTo(os)
    os.toByteArray
  }

  /** Codegen'd Bloom membership probe over a driver-built filter pinned
    * as a binary literal (the Catalyst expression Spark's own runtime
    * row-group filtering uses; deserialized once per task, not per row).
    */
  private def mightContain(bloomBytes: Array[Byte], value: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.toColumn(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(
          bloomBytes, org.apache.spark.sql.types.BinaryType),
        org.apache.spark.sql.GraftColumnBridge.toExpression(value)))

  /** Deterministic stratified sampling: a document's md5-derived bucket
    * in [0, 100) admits it when below its stratum's percentage. The
    * same document set is kept on every run and every engine (the
    * standard reproducible data-mixing primitive). Narrow per-row
    * filter — and at 100 TB the filter sits directly on the scan.
    */
  /** Deterministic cap-k per group ("keep at most k docs per domain" —
    * the per-source ceiling every mixture recipe applies before
    * weighting): rank each group's rows by an md5 draw and keep the k
    * smallest. Equivalent to a uniform random k-subset per group, but
    * reproducible and engine-portable.
    *
    * Scale shape: the group cardinality is SMALL (domains, sources,
    * langs) while groups are corpus-sized, so one `row_number` window
    * per group funnels the corpus into |groups| partitions — the
    * single-partition-window killer in thin disguise. Two phases fix
    * it: (1) window over (group, salt) — salt a pure function of the
    * id, `numSalts`× the parallelism — keeps each salt's local top-k,
    * a guaranteed superset of the global top-k (the salts partition
    * the group, and a global top-k member is top-k within its salt);
    * (2) re-rank the |groups|·numSalts·k survivors, a frame that no
    * longer depends on corpus size. Same two-phase shape as
    * [[graft.plans.SkewAgg]] and the distributed TakeOrdered in
    * topNgrams.
    *
    * Output: kept rows `(idCol, groupCol, rank)` — rank 1..k by draw
    * within the group (the stable "which k" the oracle replays).
    */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String,
                  k: Int, numSalts: Int = 32): DataFrame = {
    require(k >= 1, s"cap must be >= 1, got $k")
    require(numSalts >= 1, s"numSalts must be >= 1, got $numSalts")
    val draw = md5(col(idCol).cast("string"))
    val salted = df.select(col(idCol), col(groupCol), draw.as("_draw"),
      graft.util.Sampling.md5Bucket(col(idCol), numSalts).as("_salt"))
    val perSalt = Window.partitionBy(col(groupCol), col("_salt"))
      .orderBy(col("_draw"), col(idCol))
    val cand = salted.withColumn("_rn", row_number().over(perSalt))
      .filter(col("_rn") <= k)
    val global = Window.partitionBy(col(groupCol))
      .orderBy(col("_draw"), col(idCol))
    cand.withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .select(col(idCol), col(groupCol), col("rank").cast("long").as("rank"))
  }

  def sampleStratified(df: DataFrame, idCol: String, strataCol: String,
                       pctByStratum: Map[String, Int],
                       defaultPct: Int): DataFrame = {
    (pctByStratum.values.toSeq :+ defaultPct).foreach(p =>
      require(p >= 0 && p <= 100, s"percentage must be in [0,100], got $p"))
    df.select(col(idCol), col(strataCol), md5Bucket(col(idCol)).as("bucket"))
      .filter(col("bucket") <
        pctFor(col(strataCol), pctByStratum, defaultPct))
  }

  /** Quality-TIER curriculum sampling (the DCLM/FineWeb-style
    * quality-weighted mix): rank every doc by the heuristic quality
    * score, split the corpus into `tiers` equal-population tiers at the
    * score's quantiles, and keep a deterministic md5 share of each tier
    * per `pctByTier` (tier 1 = lowest quality … tier T = highest) —
    * upsample the top of the distribution, keep a trickle of the
    * bottom, without a hand-picked threshold.
    *
    * Scale shape: a global ntile would be a single-partition window —
    * the canonical 100 TB scale-killer. Instead the tier boundaries are
    * ONE bounded-memory `approx_percentile` aggregate (Greenwald-
    * Khanna, O(accuracy·log n) samples regardless of corpus size)
    * broadcast back as a 1-row scalar frame (the sampleMixture
    * crossJoin precedent); tier assignment and the md5 keep-draw are
    * then narrow per-row compute on the same scan that scored the doc.
    * Below the sketch's compression threshold (`accuracy` rows) the
    * quantiles are the exact discrete ranks, so the whole operator
    * hash-checks against an explicit rank-selection oracle — the
    * corpus_profile_approx convention; giant corpora trade that for
    * the ε-rank guarantee.
    *
    * Output: kept rows `(idCol, quality, tier, bucket)`.
    */
  def sampleQualityTiers(df: DataFrame, idCol: String, textCol: String,
                         tiers: Int, pctByTier: Map[Int, Int],
                         accuracy: Int = 100000): DataFrame = {
    require(tiers >= 2, s"need at least 2 tiers, got $tiers")
    require((1 to tiers).forall(pctByTier.contains),
      s"pctByTier must cover every tier 1..$tiers")
    pctByTier.values.foreach(p =>
      require(p >= 0 && p <= 100, s"percentage must be in [0,100], got $p"))
    val scored = graft.util.Par.spread(df)
      .select(col(idCol), TextOps.qualityScore(col(textCol)).as("quality"))
    val ps = (1 until tiers).map(i => i.toDouble / tiers)
    val thr = scored.agg(percentile_approx(col("quality"),
      array(ps.map(lit): _*), lit(accuracy)).as("_thr"))
    // tier = 1 + #{quantile boundaries strictly below the score}
    val tier = (1 until tiers).foldLeft(lit(1)) { (acc, i) =>
      acc + when(col("quality") > element_at(col("_thr"), i), 1)
        .otherwise(0)
    }
    val pct = (1 to tiers).foldLeft(lit(0)) { (acc, t) =>
      when(col("tier") === t, lit(pctByTier(t))).otherwise(acc)
    }
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), col("quality"), tier.as("tier"),
        md5Bucket(col(idCol)).as("bucket"))
      .filter(col("bucket") < pct)
  }

  /** CCNet-style PERPLEXITY-BUCKET sampling (Wenzek et al. 2020,
    * arXiv:1911.00359): score every document under the corpus's own
    * LM ([[graft.textops.Vocab.lmScore]] — the KenLM stand-in), split
    * the corpus into head/middle/tail buckets at the quartile
    * boundaries of the per-doc average log-likelihood (head = most
    * fluent = highest avg_logp = LOWEST perplexity, the quarter CCNet
    * trusts most; tail = the bottom quarter), then keep each bucket
    * at its own rate via the shared md5 draw — the
    * model-based-quality curriculum axis beside the heuristic tiers
    * ([[sampleQualityTiers]]) and the learned filter.
    *
    * Scale shape: lmScore's own shape (two combinable count aggs, a
    * vocab-sized model join, one per-doc agg), then ONE
    * `percentile_approx` scalar broadcast for the boundaries — never
    * a global-window ntile — and a narrow draw. Docs with no bigram
    * (under two tokens) have undefined perplexity and are not scored,
    * matching CCNet's drop of un-scorable fragments. Quartile
    * fractions are exact binary doubles (0.25/0.75) so both engines'
    * ceil(p·n) rank arithmetic agrees at EVERY corpus size (a 1/3
    * tercile literal rounds differently when 3 divides n).
    *
    * Output: (doc_id, n_bigrams, avg_logp, ppl_bucket, bucket) for
    * the KEPT docs.
    */
  def samplePerplexityBuckets(df: DataFrame, idCol: String, textCol: String,
                              pctByBucket: Map[String, Int] =
                                Map("head" -> 90, "middle" -> 50,
                                  "tail" -> 10),
                              accuracy: Int = 100000): DataFrame = {
    require(Seq("head", "middle", "tail").forall(pctByBucket.contains),
      s"pctByBucket must cover head/middle/tail, got ${pctByBucket.keys}")
    pctByBucket.values.foreach(p =>
      require(p >= 0 && p <= 100, s"percentage must be in [0,100], got $p"))
    val scored = graft.textops.Vocab.lmScore(df, idCol, textCol)
    val thr = scored.agg(percentile_approx(col("avg_logp"),
      array(lit(0.25), lit(0.75)), lit(accuracy)).as("_thr"))
    val bucketName = when(col("avg_logp") > element_at(col("_thr"), 2),
        "head")
      .when(col("avg_logp") > element_at(col("_thr"), 1), "middle")
      .otherwise("tail")
    val pct = when(col("ppl_bucket") === "head", lit(pctByBucket("head")))
      .when(col("ppl_bucket") === "middle", lit(pctByBucket("middle")))
      .otherwise(lit(pctByBucket("tail")))
    scored.crossJoin(broadcast(thr))
      .select(col(idCol), col("n_bigrams"), col("avg_logp"),
        bucketName.as("ppl_bucket"), md5Bucket(col(idCol)).as("bucket"))
      .filter(col("bucket") < pct)
  }

  /** The DAILY-INGEST pipeline composed in ONE DAG — the incremental
    * twin of [[corpusClean]]: a crawl increment is quality-gated, then
    * checked against the existing corpus for exact duplicates
    * ([[graft.dedup.Dedup.exactIncremental]]) and near-duplicates
    * ([[graft.dedup.Dedup.minhashIncremental]]), and each incoming doc
    * gets the composite ACCEPT decision a real pipeline appends on.
    *
    * Scale shape is the union of its parts, all corpus-safe: the gate
    * is a narrow filter on the increment scan; both duplicate checks
    * broadcast increment-derived frames and stream the corpus through
    * probes (the corpus never shuffles — see the component docs; with
    * a persisted [[graft.dedup.SignatureStore]] the near-dup leg reads
    * no corpus text either). Only GATED docs run the duplicate checks
    * — a rejected doc must not burn signature work or, worse, shadow a
    * later clean copy in the batch min-id rule.
    *
    * Output: one row per INCOMING doc —
    * (doc_id, quality, is_new_exact, is_new_near, accepted). The
    * duplicate-check flags read FALSE for gate-rejected docs (they
    * were not evaluated and cannot be accepted; the quality column
    * records why) — false-not-null keeps every output column
    * non-nullable, the portable choice for the oracle compare.
    *
    * DETERMINISM CONTRACT the caller must uphold: the quality gate is
    * derived TWICE from independent scans of `incoming` — once
    * checkpointed for the accept decision, once recomputed inside
    * each dedup leg's own scan (the memory-motivated split below).
    * That is only equivalent because [[TextOps.qualityScore]] is a
    * pure function and the two scans see the same rows. A
    * NONDETERMINISTIC incoming frame (non-deterministic UDF upstream,
    * unstable sampling, a re-read of mutating storage) could mark a
    * doc accepted whose dedup flags were computed against a different
    * row set — pass such frames through a checkpoint/write first.
    */
  def ingestClean(incoming: DataFrame, corpus: DataFrame, idCol: String,
                  textCol: String, minQuality: Double,
                  shingleSize: Int = 3, bands: Int = 8,
                  rowsPerBand: Int = 2, threshold: Double = 0.5,
                  maxBucket: Int = 64): DataFrame = {
    // the base (id, quality) list materialized once — WITHOUT the text
    // column: a checkpoint of the raw increment text is a
    // corpus-class deserialized block at recrawl-scale increments
    // (this row's 30%-bucket fixture), and those blocks have no
    // unpersist hook — they sat in the MemoryStore driving the row's
    // bimodal zsf10 readings (12 s warm floor vs 30-75 s spikes; the
    // r11 novelty_score finding, re-measured r14). The legs instead
    // re-derive the gate INSIDE their own increment scans — the
    // quality kernel is a codegen'd projection, so each leg pays one
    // pushed-down increment scan and nothing is ever pinned.
    // ONE fused checkpoint of (id, quality, fingerprint) — r17: the
    // base list and the exact leg's key frame were two separate
    // checkpoint jobs over the same increment scan; the fingerprint
    // kernel now also runs on sub-quality rows (cheap md5-class
    // per-row work) but the increment scans once and one job replaces
    // two. Still no text column (the corpus-class block-leak rule).
    val incKeys = graft.util.Par.spread(incoming)
      .select(col(idCol),
        TextOps.qualityScore(col(textCol)).as("quality"),
        TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .localCheckpoint()
    val inc = incKeys.select(col(idCol), col("quality"))
    val gated = graft.util.Par.spread(incoming)
      .filter(TextOps.qualityScore(col(textCol)) >= minQuality)
    // the exact leg's key frame derives from the fused checkpoint as
    // 16-byte fingerprint rows: its batch-keep groupBy then shuffles
    // an ExistingRDD projection, keeping the no-corpus-shuffle fence
    val exKeys = incKeys.filter(col("quality") >= minQuality)
      .select(col(idCol).cast("long").as("doc_id"), col("fingerprint"))
    val ex = graft.dedup.Dedup
      .exactIncrementalFp(exKeys, corpus, textCol)
      .select(col("doc_id"), col("is_new").as("is_new_exact"))
    val near = graft.dedup.Dedup
      .minhashIncremental(gated, corpus, idCol, textCol, shingleSize,
        bands, rowsPerBand, threshold, maxBucket)
      .select(col("doc_id"), col("is_new").as("is_new_near"))
    inc.select(col(idCol).cast("long").as("doc_id"), col("quality"))
      .join(ex, Seq("doc_id"), "left")
      .join(near, Seq("doc_id"), "left")
      .select(col("doc_id"), col("quality"),
        coalesce(col("is_new_exact"), lit(false)).as("is_new_exact"),
        coalesce(col("is_new_near"), lit(false)).as("is_new_near"),
        (col("quality") >= minQuality &&
          coalesce(col("is_new_exact"), lit(false)) &&
          coalesce(col("is_new_near"), lit(false))).as("accepted"))
  }

  /** Pack MANIFEST: the per-pack view of [[seqPack]] a training reader
    * actually consumes — each pack's document ids and their start
    * offsets (the attention-mask boundary list), emitted as CSV in
    * pack order so the row is engine-portable and hash-checkable.
    * `n_tokens` sums the member documents' tokens; a document
    * straddling a pack boundary is listed in the pack where it STARTS
    * (seqPack's contract), so a pack's sum can exceed the budget by
    * its tail document's overhang.
    *
    * Scale shape: [[seqPack]]'s two-pass distributed prefix sum plus
    * ONE combinable aggregate keyed on pack_id; the per-pack member
    * list is bounded by the token budget (a pack holds at most
    * `budget` one-token docs), so the collect_list is O(budget), never
    * O(corpus). Offsets tie-break on doc_id (zero-token docs share an
    * offset), keeping the CSV deterministic on both engines.
    */
  def packManifest(df: DataFrame, idCol: String, textCol: String,
                   budget: Int, numBuckets: Int = 32,
                   counter: Column => Column = TextOps.tokenCount): DataFrame = {
    val packed = seqPack(df, idCol, textCol, budget, numBuckets, counter)
    packed.groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"),
        array_sort(collect_list(struct(col("pack_offset"), col(idCol))))
          .as("_ord"))
      .select(col("pack_id"), col("n_docs"), col("n_tokens"),
        array_join(transform(col("_ord"),
          x => x.getField("pack_offset").cast("string")), ",")
          .as("offsets_csv"),
        array_join(transform(col("_ord"),
          x => x.getField(idCol).cast("string")), ",")
          .as("doc_ids_csv"))
  }

  /** TOKEN-SHARE data mixing — the domain-reweighting step (the
    * Pile/DoReMi-style mixture knob) a pretraining build runs between
    * cleaning and packing: subsample strata so the OUTPUT corpus's
    * token mass lands on target weights, not whatever the crawl
    * happened to contain.
    *
    * Rates are COMPUTED, not configured. With `T_s` each stratum's
    * token count and `share_s` its normalized weight (normalization is
    * over the strata PRESENT in the data; weight-0 strata drop), the
    * largest downsampling-only output is `T_out = min_s T_s/share_s`
    * (the binding stratum keeps everything), and each stratum keeps
    * `rate_s = share_s · T_out / T_s` of its documents, decided by the
    * deterministic md5 draw at basis-point resolution
    * (`md5Bucket(id, 10000) < floor(rate_s · 10000)`) — reproducible
    * under retries and replayed exactly by the DuckDB oracle. Float
    * rounding can price the binding stratum at 9999/10000 instead of
    * 10000; both engines compute the identical doubles, so the draw
    * still agrees bit for bit. Weights should be short binary-exact
    * decimals (6.0, 0.5, …) so the in-plan weight sum is
    * association-order-free.
    *
    * Scale shape: one map-side-combinable token-sum aggregate down to
    * O(strata) rows, two 1-row reductions over that frame, the rate
    * table broadcast back, and a narrow filter on the corpus scan —
    * the corpus itself never shuffles. Output: one row per kept doc
    * (id, stratum, n_tokens).
    */
  /** Temperature-scaled mixture sampling (the mT5/multilingual
    * up-sampling rule): target share of stratum `s` is
    * `(T_s / ΣT)^(1/τ)` renormalized — τ=1 reproduces natural
    * proportions, τ→∞ approaches uniform, and 2–5 is the published
    * range for boosting low-resource strata without drowning the head.
    * Unlike [[sampleMixture]] the weights are derived FROM the corpus
    * (no caller-supplied map), so the operator is one more
    * stratum-sized arithmetic chain over the same token-mass
    * aggregate: `T_out = min T_s/share_s` (the binding stratum keeps
    * all), basis-point keep rates, deterministic md5 draw. The corpus
    * never shuffles; every stratum frame is O(strata).
    */
  def sampleTemperature(df: DataFrame, idCol: String, strataCol: String,
                        textCol: String, temperature: Double,
                        counter: Column => Column = TextOps.tokenCount)
      : DataFrame = {
    require(temperature > 0 && !temperature.isNaN && !temperature.isInfinite,
      s"temperature must be finite and > 0, got $temperature")
    val base = graft.util.Par.spread(df)
      .select(col(idCol), col(strataCol),
        counter(col(textCol)).cast("long").as("n_tokens"))
    // O(strata) rows (same bounded-checkpoint shape as sampleMixture).
    // Zero-mass strata (every document empty) are dropped BEFORE the
    // share arithmetic: their natural share is 0 anyway, and keeping
    // them prices keep = floor(0 · T_out / 0) = floor(NaN), which the
    // ANSI-mode long cast turns into a query-killing error.
    val strata = base.groupBy(col(strataCol))
      .agg(sum(col("n_tokens")).as("_ts"))
      .filter(col("_ts") > 0)
      .localCheckpoint()
    val tot = strata.agg(sum(col("_ts")).as("_tot"))
    val pw = strata.crossJoin(broadcast(tot))
      .withColumn("_pw", pow(col("_ts") / col("_tot"),
        lit(1.0 / temperature)))
    val psum = pw.agg(sum(col("_pw")).as("_psum"))
    val withShare = pw.crossJoin(broadcast(psum))
      .withColumn("_share", col("_pw") / col("_psum"))
    val tout = withShare.agg(min(col("_ts") / col("_share")).as("_tout"))
    val rates = withShare.crossJoin(broadcast(tout))
      .select(col(strataCol),
        // +1e-9 guards the STRUCTURALLY exact boundary: the argmin
        // stratum (the one binding T_out) prices at exactly 10000
        // basis points, where a 1-ulp pow/fsum divergence between
        // engines flips the floor (the ngram minOverlap convention;
        // zsf1 caught src2 at 9999 vs 10000)
        floor(col("_share") * col("_tout") / col("_ts") * 10000
          + lit(1e-9)).cast("long").as("_keep"))
    base.join(broadcast(rates), strataCol)
      .filter(graft.util.Sampling.md5Bucket(col(idCol), 10000) < col("_keep"))
      .select(col(idCol), col(strataCol), col("n_tokens"))
  }

  def sampleMixture(df: DataFrame, idCol: String, strataCol: String,
                    textCol: String, weights: Map[String, Double],
                    defaultWeight: Double = 0.0,
                    counter: Column => Column = TextOps.tokenCount): DataFrame = {
    (weights.values.toSeq :+ defaultWeight).foreach(w =>
      require(w >= 0 && !w.isNaN && !w.isInfinite,
        s"weights must be finite and >= 0, got $w"))
    require(weights.values.exists(_ > 0) || defaultWeight > 0,
      "at least one stratum must have positive weight")
    val wCol = weights.toSeq.sortBy(_._1).foldLeft(lit(defaultWeight)) {
      case (acc, (s, w)) => when(col(strataCol) === s, lit(w)).otherwise(acc)
    }
    val base = graft.util.Par.spread(df)
      .select(col(idCol), col(strataCol),
        counter(col(textCol)).cast("long").as("n_tokens"))
    // O(strata) rows, materialized ONCE: the frame forks three ways
    // below (weight sum, T_out reduction, rate table) and each fork
    // would otherwise re-run the corpus token-count aggregate
    // `_ts > 0`: a positive-weight stratum whose documents are all
    // empty would bind T_out at 0/share = 0 and then price its own
    // keep rate as 0·0/0 = NaN (ANSI cast error). It has no tokens to
    // contribute, so it drops like a weight-0 stratum.
    val strata = base.groupBy(col(strataCol))
      .agg(sum(col("n_tokens")).as("_ts"))
      .withColumn("_w", wCol)
      .filter(col("_w") > 0 && col("_ts") > 0)
      .localCheckpoint()
    val wsum = strata.agg(sum(col("_w")).as("_wsum"))
    val withShare = strata.crossJoin(broadcast(wsum))
      .withColumn("_share", col("_w") / col("_wsum"))
    val tout = withShare.agg(min(col("_ts") / col("_share")).as("_tout"))
    val rates = withShare.crossJoin(broadcast(tout))
      .select(col(strataCol),
        // +1e-9 guards the STRUCTURALLY exact boundary: the argmin
        // stratum (the one binding T_out) prices at exactly 10000
        // basis points, where a 1-ulp pow/fsum divergence between
        // engines flips the floor (the ngram minOverlap convention;
        // zsf1 caught src2 at 9999 vs 10000)
        floor(col("_share") * col("_tout") / col("_ts") * 10000
          + lit(1e-9)).cast("long").as("_keep"))
    base.join(broadcast(rates), strataCol)
      .filter(graft.util.Sampling.md5Bucket(col(idCol), 10000) < col("_keep"))
      .select(col(idCol), col(strataCol), col("n_tokens"))
  }

  /** Deterministic [0,100) bucket from the id's md5 — the reproducible
    * sampling key shared by [[sampleStratified]], [[corpusClean]] and
    * [[graft.simops.Ivf]] (hoisted to [[graft.util.Sampling]]).
    */
  private def md5Bucket(id: Column): Column = graft.util.Sampling.md5Bucket(id)

  private def pctFor(strata: Column, pctByStratum: Map[String, Int],
                     defaultPct: Int): Column =
    pctByStratum.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (stratum, p)) => when(strata === stratum, lit(p)).otherwise(acc)
    }

  /** The pre-checkpoint stage of [[corpusClean]]: gate → narrow
    * projection → fingerprint dedup → stratified sample. Exposed so the
    * plan audit can pin its shuffle payload (the composite's survivors
    * checkpoint truncates lineage, hiding this stage from its plan).
    *
    * Everything downstream of the gate needs only (id, stratum,
    * quality, n_tokens, fingerprint) — so the two text derivatives are
    * computed IN the scan stage and the text is projected away BEFORE
    * the dedup exchange. The fingerprint window then shuffles five
    * narrow columns instead of document bodies: at 100 TB that is the
    * difference between shuffling ids and shuffling the corpus.
    * (Token counts are computed for dup docs that dedup then drops —
    * a narrow per-row cost, bounded by the dup rate, traded for a
    * corpus-sized reduction in shuffle bytes.)
    *
    * Spread BEFORE the narrow hash stage: quality scoring, content
    * fingerprinting, and token counting all run in the scan stage, so
    * a small single-file source would otherwise hash the whole corpus
    * on one core (no-op at scale, where the source has many splits).
    * The gate filter carries the noPushdown guard for the same reason:
    * pushdown would substitute the full quality expression back into
    * the one-split scan below the spread exchange (PlanAuditSpec
    * "corpus_clean's quality gate stays fenced above the spread
    * exchange").
    */
  def cleanedNarrow(docs: DataFrame, idCol: String, textCol: String,
                    strataCol: String, minQuality: Double,
                    pctByStratum: Map[String, Int],
                    defaultPct: Int): DataFrame = {
    // ONE gate-kernel pass feeds both the quality filter and the token
    // count: the struct is materialized as a column BELOW the filter, so
    // `n_tokens` above it is a free field extraction, not a second scan
    // of the text (projections don't collapse across the Filter, so a
    // gate that scored inline and counted tokens after it would run the
    // kernel twice).
    val gated = graft.util.Par.spread(docs)
      .select(col(idCol), col(strataCol), col(textCol),
        TextOps.gateStats(col(textCol)).as("_ts"))
      .withColumn("quality", TextOps.qualityScoreFrom(col("_ts")))
      .filter(graft.util.Par.noPushdown(col("quality") >= minQuality))
    val narrow = gated.select(col(idCol), col(strataCol), col("quality"),
      col("_ts").getField("n_tokens").cast("long").as("n_tokens"),
      TextOps.fingerprint(col(textCol)).as("_fp"))
    val w = Window
      .partitionBy(col("_fp")).orderBy(col(idCol))
    narrow
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")
      .filter(md5Bucket(col(idCol)) <
        pctFor(col(strataCol), pctByStratum, defaultPct))
  }

  /** The WHOLE corpus-preparation pipeline as ONE DAG — the operators
    * above composed the way a real pretraining data build runs them:
    *
    *   1. quality gate (narrow filter on the scan), with the token
    *      count and content fingerprint computed in the same scan
    *      stage so the text never crosses an exchange;
    *   2. exact dedup keeping the smallest id per content fingerprint
    *      (one shuffle on the fingerprint, five narrow columns wide);
    *   3. deterministic stratified sampling (narrow filter);
    *   4. global sequence packing of the survivors ([[seqPack]]'s
    *      literal-boundary distributed prefix sum), joined back to the
    *      per-document attributes by id.
    *
    * Every stage is a pure function of row content, so the composite is
    * oracle-checked end to end like its parts. Demonstrates that the
    * operator library composes: filters stay on the scan, the only
    * data shuffles are the dedup fingerprint exchange, the pack-bucket
    * window exchange, and the final id join.
    */
  def corpusClean(docs: DataFrame, idCol: String, textCol: String,
                  strataCol: String, minQuality: Double,
                  pctByStratum: Map[String, Int], defaultPct: Int,
                  budget: Int, numBuckets: Int = 32): DataFrame = {
    // materialize the cleaned survivors ONCE: seqPack's boundary
    // sampling, its two prefix-sum branches, and the final projection
    // all re-read this frame — without the checkpoint the gate+dedup
    // subplan would run ~4×. (A real deployment writes the cleaned
    // corpus to storage at exactly this point; the pack assignment
    // needs only the counts.)
    val sampled = cleanedNarrow(docs, idCol, textCol, strataCol,
        minQuality, pctByStratum, defaultPct)
      .localCheckpoint()
    seqPackCounted(sampled, idCol, budget, numBuckets)
      .join(sampled.select(col(idCol), col(strataCol), col("quality")),
        Seq(idCol))
      .select(col(idCol), col(strataCol), col("quality"),
        col("n_tokens"), col("pack_id"), col("pack_offset"))
  }

  /** [[corpusClean]]'s NEAR-dup-aware sibling: quality gate → exact
    * dedup → MinHash near-dedup, in one DAG. The drop rule is the
    * greedy/online one — a survivor is dropped iff it near-matches
    * (LSH candidate, verified Jaccard ≥ `threshold`) a SMALLER-id
    * survivor — i.e. the decision an ingest stream applies per
    * document, cheaper than the full transitive closure (which remains
    * the `dedup_clusters` → `dedup_resolve` path: in a chain a–b–c
    * where only a–b and b–c pair, the closure keeps a alone, while the
    * greedy rule keeps a and drops b and c only if a larger-id partner
    * exists for each — deterministic either way, but different
    * contracts).
    *
    * Scale shape: the gate + exact-dedup survivors checkpoint as the
    * same NARROW frame [[corpusClean]] uses (text never crosses that
    * exchange); a real deployment has written the cleaned corpus at
    * exactly that point, so the near-dup pass re-reads survivor text
    * via ONE id-keyed semi join against the source and runs the
    * standard banded-LSH pipeline ([[graft.dedup.Dedup.minhashLsh]]:
    * codegen'd signature kernel, ids-only band shuffles, bucket cap,
    * exact verify). The final drop is an anti join on the id — the
    * dropped-id side is bounded by the near-dup rate.
    */
  def corpusCleanNear(docs: DataFrame, idCol: String, textCol: String,
                      strataCol: String, minQuality: Double,
                      shingleSize: Int = 3, bands: Int = 8,
                      rowsPerBand: Int = 2, threshold: Double = 0.5,
                      maxBucket: Int = 64): DataFrame = {
    // sampling disabled (pct = 100): every gated, exact-unique doc
    // reaches the near-dup stage
    val kept = cleanedNarrow(docs, idCol, textCol, strataCol, minQuality,
        Map.empty, 100)
      .localCheckpoint()
    val survivorText = docs.select(col(idCol), col(textCol))
      .join(kept.select(col(idCol)), Seq(idCol), "left_semi")
    // under AUTO geometry the corpus count comes from the CHECKPOINTED
    // narrow survivor frame (same cardinality as survivorText by
    // construction) — never from survivorText itself, whose lineage
    // would replay the gate per count
    val pairs = graft.dedup.Dedup.minhashLsh(survivorText, idCol, textCol,
      shingleSize, bands, rowsPerBand, threshold, maxBucket,
      knownCount = if (bands <= 0) kept.count() else -1L)
    val drop = pairs.select(col("doc_b").as(idCol)).distinct()
    kept.join(drop, Seq(idCol), "left_anti")
      .select(col(idCol), col(strataCol), col("quality"), col("n_tokens"))
  }

  /** The END-TO-END crawl pipeline from raw WARC `response` records to
    * packed training sequences — the single DAG a public-crawl
    * consumer actually runs: envelope-split responses →
    * [[graft.textops.Html.mainText]] main-content extraction →
    * quality gate → exact dedup → MinHash near-dedup (the greedy
    * smaller-id-wins rule of [[corpusCleanNear]]) → [[seqPackCounted]]
    * sequence packing.
    *
    * `responses` is the [[graft.sources.Warc.readResponses]] frame (or
    * anything carrying `idCol` + an HTML `htmlCol`). Scale shape: the
    * extraction + gate kernel + fingerprint + token count all run in
    * the SAME scan-stage projection, so no hash exchange ever carries
    * html or extracted text — the fingerprint-dedup window, the LSH
    * band self-join, and the two packing prefix-sum windows move only
    * narrow derived columns (ids, hashes, counts; fenced in
    * PlanAuditSpec). Survivor text for the near-dup verify re-reads
    * the source via one id-keyed semi join — re-scanning storage
    * instead of shuffling the corpus, the [[corpusCleanNear]]
    * discipline. The two checkpoints hold narrow survivor frames
    * (id, quality, n_tokens), never text.
    *
    * Output: one row per surviving document —
    * (idCol, quality, n_tokens, pack_id, pack_offset).
    */
  private def crawlExtracted(responses: DataFrame, idCol: String,
                             htmlCol: String, minWords: Int,
                             maxLinkPct: Int): DataFrame =
    responses.select(col(idCol),
      graft.textops.Html.mainText(col(htmlCol), minWords, maxLinkPct)
        .as("_main"))

  /** The pre-checkpoint narrow stage of [[crawlClean]] — extraction +
    * gate + fingerprint exact-dedup — exposed so PlanAuditSpec can pin
    * that no hash exchange carries html or extracted text (the
    * composite's checkpoint truncates lineage, hiding this stage).
    * Output: (idCol, quality, n_tokens), the exact-dedup survivors.
    */
  def crawlCleanNarrow(responses: DataFrame, idCol: String,
                       htmlCol: String, minQuality: Double,
                       minWords: Int = 5,
                       maxLinkPct: Int = 30): DataFrame =
    narrowFromExtracted(crawlExtracted(responses, idCol, htmlCol,
      minWords, maxLinkPct), idCol, minQuality)

  /** [[crawlCleanNarrow]]'s gate + fingerprint exact-dedup over an
    * ALREADY-extracted `(idCol, _main)` frame — shared by the inline
    * and materialized-extraction paths of [[crawlClean]] so both make
    * bit-identical decisions.
    */
  private def narrowFromExtracted(extracted: DataFrame, idCol: String,
                                  minQuality: Double): DataFrame = {
    val gated = graft.util.Par.spread(extracted)
      .select(col(idCol), col("_main"),
        TextOps.gateStats(col("_main")).as("_ts"))
      .withColumn("quality", TextOps.qualityScoreFrom(col("_ts")))
      .filter(graft.util.Par.noPushdown(col("quality") >= minQuality))
    val narrow = gated.select(col(idCol), col("quality"),
      col("_ts").getField("n_tokens").cast("long").as("n_tokens"),
      TextOps.fingerprint(col("_main")).as("_fp"))
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol))
    narrow
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")
  }

  def crawlClean(responses: DataFrame, idCol: String, htmlCol: String,
                 minQuality: Double, budget: Int,
                 minWords: Int = 5, maxLinkPct: Int = 30,
                 shingleSize: Int = 3, bands: Int = 8,
                 rowsPerBand: Int = 2, threshold: Double = 0.5,
                 maxBucket: Int = 64, numBuckets: Int = 32,
                 scratchDir: Option[String] = None): DataFrame = {
    // `scratchDir`: materialize the extraction ONCE (overwritten per
    // invocation — a scratch artifact, never a cross-run cache). The
    // extracted frame forks four ways downstream (gate/narrow pass,
    // LSH candidate shingles, and BOTH sides of the exact-Jaccard
    // verify join — different join keys, so ReuseExchange cannot
    // merge them), and each un-materialized fork replays WARC
    // read + gunzip + main-content extraction over the whole crawl.
    // Corpus-scale frames must not be localCheckpoint'd (the
    // MemoryStore leak convention), so parquet-backing is the
    // materialization of record — the same reasoning as the
    // `_probe` store rows, and what a real pipeline does anyway
    // (extraction output IS the artifact). Guide §8: move the heavy
    // bytes once, decide on cheap scans.
    val extracted0 = crawlExtracted(responses, idCol, htmlCol, minWords,
      maxLinkPct)
    val extracted = scratchDir match {
      case Some(sd) =>
        extracted0.write.mode("overwrite").parquet(sd)
        // read back with the written schema (the file reader makes it
        // nullable, as an inferred one is): each write lists new part
        // files, so an inferred read would pay a footer job per call
        responses.sparkSession.read.schema(extracted0.schema).parquet(sd)
      case None => extracted0
    }
    val kept = narrowFromExtracted(extracted, idCol, minQuality)
      .localCheckpoint()
    val survivorText = extracted.select(col(idCol), col("_main").as("text"))
      .join(kept.select(col(idCol)), Seq(idCol), "left_semi")
    // AUTO-geometry count from the CHECKPOINTED narrow frame (same
    // cardinality as survivorText) — counting survivorText would
    // re-run html extraction over the whole crawl just to size bands
    val pairs = graft.dedup.Dedup.minhashLsh(survivorText, idCol, "text",
      shingleSize, bands, rowsPerBand, threshold, maxBucket,
      knownCount = if (bands <= 0) kept.count() else -1L)
    val drop = pairs.select(col("doc_b").as(idCol)).distinct()
    val surv = kept.join(drop, Seq(idCol), "left_anti").localCheckpoint()
    seqPackCounted(surv.select(col(idCol), col("n_tokens")), idCol,
        budget, numBuckets)
      .join(surv.select(col(idCol), col("quality")), Seq(idCol))
      .select(col(idCol), col("quality"), col("n_tokens"),
        col("pack_id"), col("pack_offset"))
  }
}
