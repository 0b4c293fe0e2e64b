package graft.textops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level vocabulary analytics: the "what is IN this corpus"
  * queries a training-data pipeline runs before and after cleaning —
  * global n-gram heavy hitters (boilerplate detection, contamination
  * triage) and per-document TF-IDF keywords (topical indexing).
  *
  * Both reuse [[TextOps.tokens]]' whitespace split so every token-level
  * operator in the engine agrees on what a token is (and the DuckDB
  * oracles replay the same `string_split_regex` fold).
  */
object Vocab {

  /** The document's n-grams as an array column — empty when the doc has
    * fewer than `n` tokens (no rep_stats-style whole-doc fallback here:
    * a corpus-frequency query must not conflate a short doc with one
    * long n-gram). The `sequence` upper bound is guarded because Spark's
    * `sequence(1, 0)` yields a DESCENDING [1,0], not an empty array.
    */
  def ngrams(toks: Column, n: Int): Column =
    graft.functions.Kernels.wordNgrams(toks, n)

  /** HOF-form twin of [[ngrams]], kept for the kernel-equivalence spec.
    * (The `transform` lambda runs interpreted per element — the kernel
    * form is the one every registered query uses.)
    */
  private[graft] def ngramsViaTransform(toks: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val grams = transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*))
    when(size(toks) >= n, grams).otherwise(array())
  }

  /** Corpus-wide top-k n-grams by occurrence count, ties broken by the
    * n-gram string so the cut is a total order both engines agree on.
    *
    * Scale shape: explode → ONE hash aggregate on the n-gram string
    * (map-side partial combine collapses each partition's duplicates
    * before the only shuffle), then `orderBy(...).limit(k)` — Spark
    * plans TakeOrderedAndProject, a per-partition top-k merged on the
    * driver, NOT a global sort: no single-partition exchange appears
    * for any corpus size. Hot n-grams ("of the") are exactly what the
    * query exists to find; they skew the aggregate's input, but partial
    * aggregation means each map task emits at most one row per distinct
    * n-gram, so the reduce-side hot key receives one row per map task,
    * not one per occurrence.
    */
  def topNgrams(df: DataFrame, textCol: String, n: Int, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    graft.util.Par.spread(df)
      .select(explode(ngrams(TextOps.tokens(lower(col(textCol))), n))
        .as("ngram"))
      .groupBy(col("ngram")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("ngram").asc)
      .limit(k)
  }

  /** The corpus datasheet: per-stratum (source, domain, shard, …) doc
    * and token counts, mean quality, token-count percentiles, and
    * language spread — the first query run on an incoming crawl and the
    * regression check run after every cleaning change.
    *
    * Scale shape: one scan computing narrow per-row stats, then ONE
    * aggregate keyed on the stratum. Counts/sums/avg are map-side
    * combinable; the EXACT percentiles buffer each group's values
    * (O(group) per stratum on the reducer — the deliberate trade for an
    * oracle-exact answer; swap `percentile` for `approx_percentile` when
    * a stratum's row count outgrows executor memory, same contract
    * as the q_quantile query). `n_langs` is an exact distinct count —
    * bounded by the language inventory, which is small by nature.
    */
  def corpusProfile(df: DataFrame, strataCol: String, langCol: String,
                    textCol: String,
                    counter: Column => Column = TextOps.tokenCount): DataFrame = {
    val t = col(textCol)
    graft.util.Par.spread(df)
      .select(col(strataCol), col(langCol),
        counter(t).cast("double").as("_n_tok"),
        qualityMicro(t))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n_tok")).cast("long").as("n_tokens"),
        sum(col("_qm")).as("_s"),
        round(percentile(col("_n_tok"), lit(0.5)), 6).as("p50_tokens"),
        round(percentile(col("_n_tok"), lit(0.9)), 6).as("p90_tokens"),
        count_distinct(col(langCol)).as("n_langs"))
      .withColumn("mean_quality", microMean)
      .drop("_s")
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        col("mean_quality"), col("p50_tokens"), col("p90_tokens"),
        col("n_langs"))
  }

  /** The per-doc quality score as an exact 6dp micro-unit LONG — the
    * fixed-point-mean convention (see [[microMean]]).
    */
  private def qualityMicro(t: Column): Column =
    round(TextOps.qualityScore(t) * 1e6).cast("long").as("_qm")

  /** Group mean of the `_qm` micro-units as a portable double: the
    * per-doc quality is 6dp FIXED-POINT, so `round(avg(q), 6)` lands
    * exactly on decimal rounding boundaries for some group sizes,
    * where Spark (shortest-repr BigDecimal half-up) and binary-double
    * engines systematically disagree (the stl_seasonal/domain_filter
    * finding). `floor((2S + n) / 2n)` on non-negative LONGS is
    * round-half-up of S/n in pure integer arithmetic (`div` here, `//`
    * in the oracle — no double division anywhere, so no 2⁵³ magnitude
    * limit), and the final /1e6 is the identical IEEE op on both
    * engines. Expects `_s` = sum(_qm) and `n_docs` in scope.
    */
  private def microMean: Column =
    expr("(2 * _s + n_docs) div (2 * n_docs)").cast("double") / lit(1e6)

  /** DOMAIN-level gating — the decision operator the [[corpusProfile]]
    * datasheet exists to feed (the RefinedWeb/C4 domain-rule step):
    * keep or drop every document by its domain's AGGREGATE quality and
    * volume, not its own text. A spam host whose individual pages pass
    * per-doc gates still reads as junk in aggregate (low mean quality)
    * — and a domain with too few documents carries no signal either
    * way and is dropped as unvetted (`minDocs`, the blocklist
    * convention of treating unknown hosts conservatively).
    *
    * Scale shape: ONE corpus scan into the profile aggregate (a
    * domain-count-sized table: mean quality is combinable — the
    * percentile columns of the full datasheet are deliberately NOT
    * computed here), then one domain-keyed join back. No broadcast
    * hint: a domain table can reach tens of millions of rows at crawl
    * scale, and hot domains skew the attach-back — AQE's size-based
    * broadcast and skew-split both apply (the scoreLinear lesson).
    *
    * Output: `(docs columns…, domain_n_docs, domain_mean_quality,
    * keep)` — every input doc surfaces with its decision; nothing
    * silently drops.
    */
  def domainFilter(df: DataFrame, domainCol: String, textCol: String,
                   minMeanQuality: Double = 0.3,
                   minDocs: Long = 2): DataFrame = {
    // the per-doc quality is a 6dp FIXED-POINT value, so a plain
    // round(avg(q), 6) lands exactly on decimal rounding boundaries
    // for some group sizes, where Spark (shortest-repr BigDecimal,
    // half-up) and binary-double engines systematically disagree (the
    // stl_seasonal finding — this flipped one domain's 6dp mean at one
    // test scale). Exact integer micro-units instead: sum the 6dp
    // scores as longs, round-half-up divide ([[SeriesStats.divHalfUp]],
    // the shared engine-portable formula), and the final /1e6 is the
    // identical IEEE op on both engines.
    val prof = graft.util.Par.spread(df)
      .select(col(domainCol), qualityMicro(col(textCol)))
      .groupBy(col(domainCol))
      .agg(count(lit(1)).as("domain_n_docs"), sum(col("_qm")).as("_s"))
      .withColumn("domain_mean_quality",
        expr("(2 * _s + domain_n_docs) div (2 * domain_n_docs)")
          .cast("double") / lit(1e6))
      .drop("_s")
    df.join(prof, Seq(domainCol), "left")
      .withColumn("keep",
        coalesce(col("domain_mean_quality") >= minMeanQuality &&
          col("domain_n_docs") >= minDocs, lit(false)))
  }

  /** [[corpusProfile]] with SKETCHED percentiles: `approx_percentile`
    * (Greenwald-Khanna, bounded-memory) replaces the exact buffering
    * `percentile`, so no stratum ever materializes its value list on a
    * reducer — the form to reach for when a stratum outgrows executor
    * memory (the exact twin documents this trade; everything else is
    * identical). At `accuracy` = 1/ε the sketch holds O((1/ε)·log(εN))
    * samples regardless of stratum size.
    *
    * approx_percentile returns an ELEMENT of the group (a discrete
    * quantile, not interpolated) — for strata smaller than `accuracy`
    * the sketch never compresses, so the answer is the exact discrete
    * quantile: deterministic, order-independent, and oracle-checkable
    * by an explicit rank selection. Giant strata trade that for the
    * ε-rank guarantee.
    */
  def corpusProfileApprox(df: DataFrame, strataCol: String, langCol: String,
                          textCol: String, accuracy: Int = 10000): DataFrame = {
    val t = col(textCol)
    graft.util.Par.spread(df)
      .select(col(strataCol), col(langCol),
        TextOps.tokenCount(t).cast("double").as("_n_tok"),
        qualityMicro(t))
      .groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n_tok")).cast("long").as("n_tokens"),
        sum(col("_qm")).as("_s"),
        approx_percentile(col("_n_tok"), lit(0.5), lit(accuracy))
          .as("p50_tokens"),
        approx_percentile(col("_n_tok"), lit(0.9), lit(accuracy))
          .as("p90_tokens"),
        count_distinct(col(langCol)).as("n_langs"))
      .withColumn("mean_quality", microMean)
      .drop("_s")
      .select(col(strataCol), col("n_docs"), col("n_tokens"),
        col("mean_quality"), col("p50_tokens"), col("p90_tokens"),
        col("n_langs"))
  }

  /** Per-document n-gram novelty: the fraction of the document's
    * DISTINCT n-grams that occur in no other document (corpus df = 1).
    * Low novelty marks templated/recombined text that exact and
    * near-dup passes both miss (every individual doc is unique, but
    * assembled entirely from corpus-common phrases); high novelty on a
    * crawl slice is the "new content" signal. Docs with fewer than `n`
    * tokens emit no row (same contract as [[topNgrams]]).
    *
    * Scale shape: the (doc, n-gram)-distinct frame is computed per
    * document IN THE SCAN STAGE ([[graft.functions.Kernels.ngramXxSet]] —
    * the doc id is in the distinct key, so the dedup never needed a
    * corpus-sized exchange); the per-n-gram document frequency is a
    * map-side-combinable aggregate over it; the df side of the join is
    * one row per distinct n-gram; the final per-doc average is
    * combinable again. Nothing ranks globally — no sort anywhere.
    *
    * Every post-explode stage keys on the kernel's 64-bit n-gram hash,
    * never the string: no output column needs the n-gram text, so the
    * df aggregate and the join move 8-byte keys instead of
    * arbitrary-length strings (~3-8× fewer shuffle bytes, and hot
    * stopword-grade keys stop inflating their reduce partitions —
    * the skew AQE would otherwise have to split). Two n-grams colliding
    * in 64 bits would merge their df counts; at P ≈ vocab²/2⁶⁴ that is
    * the same vanishing-collision contract [[graft.dedup.Dedup]]'s
    * hashed-shingle joins already carry.
    */
  def noveltyScore(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 2): DataFrame = {
    // the (doc, hash)-DISTINCT frame has the doc id in its key, so the
    // dedup is per-document work — one kernel pass in the scan stage
    // ([[graft.functions.Kernels.ngramXxSet]]), not a corpus-sized distinct
    // exchange. The per-hash doc frequency stays an AGGREGATE + JOIN
    // (not a window count riding one exchange): partial aggregation
    // collapses a stopword-grade hot key to one row per map task, and
    // AQE's skew-join splitting can split the probe side — a window
    // keyed on the hash would instead pin every row of the hot key in
    // ONE sort partition, the straggler AQE cannot split.
    // the (id, hash) frame feeds BOTH the df aggregate and the join
    // probe — but NOT through a localCheckpoint: checkpoint blocks are
    // deserialized row objects with no unpersist hook, so in a
    // long-lived session (the bench suite, any notebook) each
    // invocation leaks GBs into the MemoryStore — at the 100× anchor
    // the SECOND novelty run was 4× the first, and session shutdown
    // spent minutes freeing entries. Without the checkpoint's exact
    // stats the planner undersells the exploded gram side (file-scan
    // bytes, pre-explode) and BROADCASTS 23M rows; the SHUFFLE_HASH
    // hint on the df side pins the scalable plan instead. What the
    // hint buys is the BROADCAST hazard, not recompute: the df
    // consumer's exchange sits above a partial HashAggregate while the
    // probe's sits above the raw kernel projection, so the two
    // exchanges do NOT canonicalize equal and the scan+kernel stage
    // runs once per consumer. That recompute is the right trade — the
    // kernel pass is cheap scan-stage work, while caching the exploded
    // frame is exactly the corpus-scale MemoryStore residency the
    // checkpoint removal exists to avoid. AQE's skew split still
    // applies (it handles shuffled-hash joins).
    val grams = graft.util.Par.spread(df)
      .select(col(idCol), explode(graft.functions.Kernels.ngramXxSet(
        TextOps.tokens(lower(col(textCol))), n)).as("_gh"))
    val dfreq = grams.groupBy(col("_gh")).agg(count(lit(1)).as("_df"))
    grams.join(dfreq.hint("shuffle_hash"), "_gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(avg(when(col("_df") === 1, 1.0).otherwise(0.0)), 6)
          .as("novelty"))
  }

  /** All-built-ins twin of [[noveltyScore]] (interpreted `transform`
    * n-grams + a relational distinct exchange), kept for the
    * kernel-equivalence spec.
    */
  private[graft] def noveltyScoreViaJoin(df: DataFrame, idCol: String,
                                         textCol: String,
                                         n: Int = 2): DataFrame = {
    val grams = graft.util.Par.spread(df)
      .select(col(idCol),
        explode(ngramsViaTransform(TextOps.tokens(lower(col(textCol))), n))
          .as("ngram"))
      .select(col(idCol), xxhash64(col("ngram")).as("_gh"))
      .distinct()
    val dfreq = grams.groupBy(col("_gh")).agg(count(lit(1)).as("_df"))
    grams.join(dfreq, "_gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        round(avg(when(col("_df") === 1, 1.0).otherwise(0.0)), 6)
          .as("novelty"))
  }

  /** Per-document corpus-LM fluency: the average natural-log
    * probability of the document's bigrams under an add-one-smoothed
    * bigram language model TRAINED ON THE CORPUS ITSELF —
    * `avg over bigrams (w1,w2) of ln((c(w1,w2)+1) / (c(w1)+V))`, with
    * `c` corpus occurrence counts and `V` the distinct-token count.
    * The CCNet/KenLM-style quality axis the heuristic
    * [[TextOps.qualityScore]] can't see: word-salad and shuffled text
    * score far lower than fluent text built from the same tokens,
    * because the MODEL is the corpus's own transition structure. Low
    * scores flag junk/noise; docs with < 2 tokens emit no row (same
    * contract as [[noveltyScore]]).
    *
    * Scale shape: the bigram and unigram count "model" is two
    * map-side-combinable aggregates; model stats join FIRST among
    * themselves (vocab-sized frames), so the exploded doc side joins
    * exactly once, on `xxhash64(bigram)` (the [[noveltyScore]] 8-byte
    * key discipline — strings never shuffle past the explode); V rides
    * in as a 1-row broadcast; the per-doc average is combinable. No
    * sort anywhere. Collision contract as in [[noveltyScore]].
    */
  def lmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val base = graft.util.Par.spread(df)
      .select(col(idCol), TextOps.tokens(lower(col(textCol))).as("_toks"))
    val big = base.select(col(idCol),
        explode(ngrams(col("_toks"), 2)).as("bg"))
      .select(col(idCol), xxhash64(col("bg")).as("_h2"),
        xxhash64(substring_index(col("bg"), " ", 1)).as("_h1"))
    // ONE corpus-scale aggregate builds the bigram model: the left
    // token is functionally determined by the bigram, so min(_h1)
    // carries it through without a second distinct pass over `big`
    val c12 = big.groupBy(col("_h2"))
      .agg(count(lit(1)).as("c12"), min(col("_h1")).as("_h1"))
    val c1 = base.select(explode(col("_toks")).as("w"))
      .select(xxhash64(col("w")).as("_h1"))
      .groupBy(col("_h1")).agg(count(lit(1)).as("c1"))
    // V = rows of the unigram count frame — vocab-sized, no extra
    // corpus scan
    val vocabN = c1.agg(count(lit(1)).as("_v"))
    // model assembly on vocab-sized frames: (bigram, c12, c1-of-left).
    // The doc-side probe join is pinned SHUFFLE_HASH: the planner's
    // pre-explode estimate undersells `big` enough to BROADCAST the
    // 23M-row doc side at the 100× anchor (the noveltyScore lesson) —
    // the model-side frames are real shuffle stages whose stats AQE
    // already knows, so their own join needs no hint
    val bstats = c12.join(c1, "_h1").drop("_h1")
    big.select(col(idCol), col("_h2")).join(bstats.hint("shuffle_hash"), "_h2")
      .crossJoin(broadcast(vocabN))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c12") + 1.0) / (col("c1") + col("_v")))), 6)
          .as("avg_logp"))
  }

  /** Per-document top-k TF-IDF terms:
    * `score = tf * ln((N + 1) / (df + 1))`, rounded to 6dp (the smooth
    * variant keeps every-doc terms finite); rank ties break on the term
    * string. Emits (doc, term, tf, df, score, rank).
    *
    * Scale shape: the (doc, term) tf counts are computed per-document
    * in the scan stage ([[graft.functions.Kernels.wordCounts]] — the
    * grouping key contains the doc id, so the corpus-sized
    * groupBy(doc, term) shuffle disappears and the exploded frame
    * arrives (doc, term)-unique); the term df is a map-side-combinable
    * aggregate over it, joined back on `xxhash64(term)` — the df side
    * is one fixed-width row per distinct term (O(vocab)), partial
    * aggregation collapses stopword-grade hot terms to one row per map
    * task, and AQE can skew-split the probe side (a window count would
    * pin a hot term's rows in one unsplittable sort partition); N rides
    * in as a 1-row broadcast cross join (one DAG, no driver action).
    * The final top-k window partitions by document id — millions of
    * independent partitions, no global sort.
    */
  def tfidfTerms(df: DataFrame, idCol: String, textCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    // tf feeds BOTH the df aggregate and the join probe. No
    // localCheckpoint here (its deserialized blocks have no unpersist
    // hook and leak across invocations in a long-lived session — the
    // noveltyScore lesson); the join is pinned SHUFFLE_HASH below so
    // the planner can never broadcast the token-scale side off its
    // underselling pre-explode estimate, and both consumers share the
    // one hash(_th) exchange via ReuseExchange.
    val tf = graft.util.Par.spread(df)
      .select(col(idCol),
        explode(graft.functions.Kernels.wordCounts(
          TextOps.tokens(lower(col(textCol))))).as("_kv"))
      .select(col(idCol), col("_kv").getField("term").as("term"),
        col("_kv").getField("tf").as("tf"),
        xxhash64(col("_kv").getField("term")).as("_th"))
    // tf is unique per (doc, term), so the term's document frequency is
    // a plain count — no count(distinct) expansion needed (two terms
    // colliding in 64 bits would merge df counts: the same vanishing
    // P ≈ vocab²/2⁶⁴ contract as noveltyScore)
    val dfreq = tf.groupBy(col("_th")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("_n_docs"))
    tf.join(dfreq.hint("shuffle_hash"), "_th")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", round(col("tf") *
        log((col("_n_docs") + 1.0) / (col("df") + 1.0)), 6))
      .withColumn("rank", row_number().over(Window.partitionBy(col(idCol))
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }
}
