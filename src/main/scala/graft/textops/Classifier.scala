package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** LEARNED-filter scoring — the fastText/DCLM-class quality
  * classifier pass every modern pretraining pipeline runs after the
  * heuristic gates, reduced to its deterministic scoring core: a
  * LINEAR model over unigram features,
  *
  *   score(doc) = Σ_tok w(tok) / n_tokens,
  *
  * exactly the inference arithmetic of a bag-of-words linear
  * classifier (fastText with unigram features and a frozen embedding
  * collapses to a per-token weight lookup + mean). TRAINING is out of
  * scope here (no labels in this corpus); what the engine owns is the
  * 100 TB-shaped scoring pass, against either
  *
  *  - a (token, weight) WEIGHT TABLE the caller loads from a trained
  *    model, or
  *  - the corpus's own deterministic fixture table
  *    ([[fixtureWeights]] — top-`vocab` tokens by frequency, weights
  *    derived from the md5 fold both engines replay), which is what
  *    the registered oracle row scores with.
  *
  * Scale shape: the weight table is VOCABULARY-sized (fastText ships
  * a few hundred thousand rows — broadcast-scale on any executor), so
  * scoring is one narrow token scan + a broadcast hash join + ONE
  * combinable per-doc aggregate. The corpus never shuffles anything
  * wider than (doc_id, weight) partial sums. Weights are INTEGERS in
  * [0, 2000] and the reported score is in integer micro-units
  * (round-half-up division, all-positive operands — the engines'
  * integer divisions agree only on non-negative values, the
  * stl_seasonal lesson), so the row hash-checks bit for bit.
  */
object Classifier {

  /** The md5 fold both engines replay (15 hex chars → BIGINT), mapped
    * to an integer weight in [0, 2000]. */
  private def md5Weight(token: Column): Column = pmod(
    conv(substring(md5(token), 1, 15), 16, 10).cast("long"), lit(2001L))

  /** Deterministic fixture weight table: the corpus's top-`vocab`
    * tokens by frequency (ties broken by token — the TakeOrdered cut
    * both engines compute identically), each weighted by the md5
    * fold. Stands in for a trained model's weight file; the scoring
    * pass downstream is identical either way.
    */
  def fixtureWeights(df: DataFrame, textCol: String,
                     vocab: Int = 2000): DataFrame = {
    require(vocab >= 1, s"vocab must be >= 1, got $vocab")
    graft.util.Par.spread(df)
      .select(explode(TextOps.tokens(lower(col(textCol)))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("_cnt"))
      .orderBy(col("_cnt").desc, col("token").asc)
      .limit(vocab)
      .select(col("token"), md5Weight(col("token")).as("weight"))
  }

  /** DSIR-style importance scoring (Data Selection via Importance
    * Resampling, Xie et al. 2023, arXiv:2302.03169) — the
    * distribution-matching data-selection axis beside the heuristic
    * gates ([[TextOps.qualityFilter]]) and the learned filter
    * ([[scoreLinear]]): score each raw document by how much more
    * likely its hashed n-gram features are under the TARGET
    * distribution than under the raw pool,
    *
    *   score(doc) = avg over features f of
    *                [ ln p_target(b(f)) − ln p_raw(b(f)) ],
    *
    * with features = unigrams + bigrams hashed into `nBuckets`
    * buckets (the paper's hashed n-gram generative model) and
    * add-one smoothing on both bucket models. `isTarget` marks the
    * rows that define the target distribution (in DSIR: the
    * high-quality corpus you want more of); here it is a predicate
    * over the SAME frame so one scan feeds both models. The keep
    * flag selects the top quartile by score — the deterministic
    * stand-in for the paper's Gumbel resampling draw (the md5-draw
    * convention covers randomized keeps elsewhere; the QUANTILE cut
    * is the reproducible form, per [[graft.pipeline.Pipeline
    * .sampleQualityTiers]]).
    *
    * Scale shape: ONE narrow feature scan (md5-fold bucket ids — the
    * minhash kernel's per-shingle arithmetic) collapsed immediately
    * to `(doc_id, _t, bucket, count)` — the single exchange BOTH the
    * bucket-model aggregate and the per-doc scorer consume (runtime
    * ReuseExchange dedupes the identical subtrees, so the kernel
    * never replays through lazy lineage). Scalar totals and the
    * log-ratio table broadcast; the per-doc score is one combinable
    * count-weighted aggregate. The quartile threshold is one
    * `percentile_approx` aggregate broadcast as a scalar frame —
    * never a global-window ntile. Nothing wider than those 4-column
    * 8-byte-ish rows ever shuffles; the doc attach-back is a
    * doc-keyed join with no broadcast hint. Score rounds to 6dp
    * before the threshold compare (the lm_score float-parity
    * convention).
    *
    * Output: `(doc_id, n_feats, dsir_score, keep)` for every input
    * doc (token-less docs: NULL score, keep = false).
    */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
                isTarget: Column, nBuckets: Int = 10000): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    // ONE codegen'd kernel pass per row emits every feature's bucket
    // id (unigram + bigram md5 folds — [[graft.functions
    // .DsirBucketsExpr]], bit-identical to the HOF twin
    // [[dsirBucketsViaColumns]]): only 8-byte bucket ids ever explode
    // the explicit isNotNull matters for exchange reuse: the
    // attach-back left join infers isnotnull(doc_id) on ITS branch
    // only, which would make the two kernel subtrees non-identical
    // and defeat ReuseExchange — filtering at the base keeps both
    // branches byte-identical (a NULL-id row could never survive the
    // id-keyed attach-back anyway)
    val ex = graft.util.Par.spread(df)
      .where(col(idCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"), isTarget.as("_t"),
        explode(graft.functions.DsirBucketsExpr(lower(col(textCol)),
          nBuckets)).as("_b"))
    // collapse the explode ONCE to (doc_id, _t, _b, count): both the
    // bucket-model aggregate and the per-doc scorer then consume the
    // SAME exchange (runtime ReuseExchange dedupes identical Exchange
    // subtrees), so the tokenize+md5 kernel scans the corpus exactly
    // once per action — previously each consumer replayed the full
    // kernel scan through lazy lineage (checkpointing is not an
    // option: `ex` is token-scale, and corpus-scale checkpoint blocks
    // leak into the session MemoryStore)
    val perDoc = ex.groupBy(col("doc_id"), col("_t"), col("_b"))
      .agg(count(lit(1)).as("_c"))
    val counts = perDoc.groupBy(col("_b"))
      .agg(sum(col("_c")).as("_cr"),
        sum(when(col("_t"), col("_c")).otherwise(0L)).as("_ct"))
    val totals = counts.agg(sum(col("_cr")).as("_rtot"),
      sum(col("_ct")).as("_ttot"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("_b"),
        (log((col("_ct") + lit(1.0)) / (col("_ttot") + lit(nBuckets))) -
          log((col("_cr") + lit(1.0)) / (col("_rtot") + lit(nBuckets))))
          .as("_lr"))
    // count-weighted mean replays avg over the pre-collapse exploded
    // rows (duplicate buckets in a doc repeat their ratio); the 6dp
    // round is the float-parity mechanism, as for every distributed
    // sum here (term order is nondeterministic either way)
    val scored = perDoc.join(broadcast(ratios), Seq("_b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("_c")).as("n_feats"),
        round(sum(col("_lr") * col("_c")) / sum(col("_c")), 6)
          .as("dsir_score"))
    val thr = scored.agg(percentile_approx(col("dsir_score"), lit(0.75),
      lit(100000)).as("_thr"))
    // doc-sized attach-back: no broadcast hint (see scoreLinear)
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .crossJoin(broadcast(thr))
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        col("dsir_score"),
        coalesce(col("dsir_score") > col("_thr"), lit(false)).as("keep"))
  }

  /** Column-expression twin of [[graft.functions.DsirBucketsExpr]],
    * kept for the kernel-equivalence spec (the BatchKernels
    * convention): unigram + adjacent-bigram feature strings, each
    * folded through [[graft.util.Sampling.md5Bucket]].
    */
  private[graft] def dsirBucketsViaColumns(text: Column,
                                           nBuckets: Int): Column = {
    val toks = TextOps.tokens(text)
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    transform(concat(toks, bigrams),
      f => graft.util.Sampling.md5Bucket(f, nBuckets.toLong))
  }

  /** Score every document under a linear unigram model: per-doc token
    * count, in-vocabulary hit count, and the mean weight in integer
    * micro-units (`score_micro = round_half_up(10⁶ · Σw / n)`;
    * out-of-vocabulary tokens contribute weight 0 — the OOV
    * convention of any fixed-vocab classifier). NULL score for
    * token-less documents (no silent drops — dirty rows surface).
    *
    * One narrow scan (tokens + lower), one broadcast join against the
    * vocabulary-sized weight table, ONE combinable aggregate, one
    * broadcast join back to the id list. Output:
    * (doc_id, n_tokens, n_invocab, score_micro).
    */
  def scoreLinear(df: DataFrame, idCol: String, textCol: String,
                  weights: DataFrame): DataFrame = {
    val toks = graft.util.Par.spread(df)
      .select(col(idCol).cast("long").as("doc_id"),
        explode(TextOps.tokens(lower(col(textCol)))).as("token"))
    val scored = toks
      .join(broadcast(weights.select(col("token"),
        col("weight").cast("long").as("_w"))), Seq("token"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        count(col("_w")).as("n_invocab"),
        sum(coalesce(col("_w"), lit(0L))).as("_wsum"))
      // round-half-up on strictly non-negative operands: (2·10⁶·Σw + n)
      // div (2n) — truncating and flooring division agree here, so
      // Spark's `div` and DuckDB's `//` produce the same integer
      .select(col("doc_id"), col("n_tokens"), col("n_invocab"),
        expr("(_wsum * 2000000L + n_tokens) div (n_tokens * 2L)")
          .as("score_micro"))
    // the attach-back joins two DOC-sized frames — no broadcast hint
    // (a hint here forces materializing the whole corpus's aggregate
    // on every executor; size-based broadcasts the planner picks at
    // small SF adapt away on a real corpus)
    df.select(col(idCol).cast("long").as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_invocab"), lit(0L)).as("n_invocab"),
        col("score_micro"))
  }
}
