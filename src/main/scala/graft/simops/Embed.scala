package graft.simops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding storage/bandwidth operators. At 100 TB the embedding
  * column IS the corpus — symmetric int8 quantization cuts it 4× before
  * it ever shuffles or lands in an index, at ~0.4% RMS error for unit
  * vectors. Pure per-row Column expressions: single scan + project,
  * whole-stage codegen, no shuffle.
  */
object Embed {

  /** Per-vector symmetric int8 quantization:
    * `scale = max|xᵢ| / 127`, `qᵢ = floor(xᵢ/scale + 0.5)` ∈ [−127, 127].
    *
    * `floor(x + 0.5)` (not `round`) on purpose: Spark's round
    * half-rounds away from zero for negatives while DuckDB matches only
    * on magnitudes, and the floor form is the same arithmetic in both
    * engines bit for bit — ties are deterministic, so the whole operator
    * is oracle-checkable. The quantized vector is emitted as a CSV
    * string (exact ints; the driver's value-hash treats array columns
    * engine-specifically) alongside the scale and the RMS reconstruction
    * error.
    *
    * Zero and empty vectors are safe: the scale is floored at 1e-30 and
    * rmse guards the empty division.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val base = df.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("_v"))
    // _scale must be a MATERIALIZED alias: it is referenced inside the
    // lambdas below, and Catalyst does no CSE inside higher-order
    // functions — an inline max-abs would re-reduce the vector per element
    val withScale = base.withColumn("_scale",
      greatest(array_max(transform(col("_v"), x => abs(x))), lit(1e-30))
        / 127.0)
    def q(x: Column) = floor(x / col("_scale") + 0.5)
    withScale.select(col("vec_id"), col("_scale").as("scale"),
      array_join(transform(col("_v"),
        x => q(x).cast("long").cast("string")), ",").as("q_csv"),
      when(size(col("_v")) === 0, 0.0).otherwise(
        round(sqrt(aggregate(
          transform(col("_v"), x => (x - q(x) * col("_scale"))
            * (x - q(x) * col("_scale"))),
          lit(0.0), (acc, e) => acc + e) / size(col("_v"))), 6))
        .as("rmse"))
  }

  /** Embedding-column DATASHEET, per label stratum: vector counts,
    * dimension, and norm distribution — the first query run on an
    * incoming embedding batch (a truncated/zero-padded/un-normalized
    * batch shows up immediately as a dim or norm anomaly), and the
    * regression check after any encoder change. The embedding twin of
    * [[graft.textops.Vocab.corpusProfile]].
    *
    * Scale shape: one scan computing the norm per row (codegen'd
    * sequential dot — the [[Similarity.norm]] kernel), then ONE
    * aggregate keyed on the label. The exact percentile buffers each
    * stratum's norms (the corpusProfile trade, documented there; swap
    * to approx_percentile for outsized strata).
    */
  def profile(df: DataFrame, vecCol: String, labelCol: String): DataFrame = {
    val base = graft.util.Par.spread(df)
      .select(col(labelCol),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_n", Similarity.norm(col("_v")))
    base.groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"),
        max(size(col("_v"))).as("dim"),
        round(avg(col("_n")), 6).as("mean_norm"),
        round(percentile(col("_n"), lit(0.5)), 6).as("p50_norm"))
  }

  /** Per-label mean vector (class centroids), long format: one row per
    * (label, dimension). The class-prototype primitive — seed vectors
    * for label propagation ([[Similarity.knnClassify]]), per-domain
    * drift monitoring, or a nearest-centroid classifier.
    *
    * Scale shape: posexplode to (label, dim, component) then ONE
    * combinable average keyed on (label, dim) — map-side partials cap
    * each partition's contribution at labels × dim rows, so the
    * exchange carries index-sized partial sums, never vectors. No
    * driver-side collect; the centroid table stays distributed.
    */
  def labelCentroids(df: DataFrame, vecCol: String,
                     labelCol: String): DataFrame =
    graft.util.Par.spread(df)
      .select(col(labelCol),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim", "_c")))
      .groupBy(col(labelCol), col("dim").cast("long").as("dim"))
      .agg(round(avg(col("_c")), 6).as("mean_c"),
        count(lit(1)).as("n_vecs"))

  /** Product-quantization codebooks, driver-resident: per subspace, the
    * surviving code ids and their centroids. O(m·k·subDim) — index
    * metadata, never O(rows). Same deterministic conventions as
    * [[Ivf.fitSeq]]: seeds are the k lowest-id (sampled) vectors'
    * subvectors, Lloyd refinements round to 6dp (bit-reproducible
    * across engines), emptied cells disappear WITHOUT renumbering the
    * survivors, and the fit sample is the md5-bucket draw.
    *
    * One Spark job per Lloyd pass for ALL subspaces: the sample
    * explodes over the subspace index, a codegen'd kernel assigns each
    * (vector, m) row its best code, and a single (m, code)-keyed
    * aggregate produces every per-dimension mean — m·k·subDim result
    * rows, map-side combinable.
    */
  private[simops] def fitBooks(df: DataFrame, idCol: String, vecCol: String,
                       m: Int, k: Int, iters: Int, fitSamplePct: Int,
                       dim: Int): (Array[Array[Int]], Array[Array[Array[Double]]]) = {
    require(m > 0 && dim % m == 0,
      s"dim ($dim) must divide evenly into m ($m) subspaces")
    require(fitSamplePct > 0 && fitSamplePct <= 100,
      s"fitSamplePct must be in (0,100], got $fitSamplePct")
    val subDim = dim / m
    // checkpointed when a genuine sample (Ivf.fitSample — bounded by
    // the ~20k cappedPct target): seeds + every Lloyd pass otherwise
    // re-scan the source per action
    val sample = Ivf.fitSample(df, idCol, vecCol, fitSamplePct, -1L)
    val seeds = sample.orderBy("_id").limit(k)
      .select(col("_v")).collect().map(_.getSeq[Double](0))
    require(seeds.nonEmpty,
      "Embed.pqEncode: cannot fit codebooks on an empty candidate frame")
    var codes: Array[Array[Int]] = Array.fill(m)(seeds.indices.toArray)
    var books: Array[Array[Array[Double]]] = Array.tabulate(m)(mi =>
      seeds.map(v => Array.tabulate(subDim)(d =>
        if (mi * subDim + d < v.length) v(mi * subDim + d) else 0.0)))
    for (_ <- 0 until iters) {
      val avgs = (0 until subDim).map(d => round(avg(
        element_at(col("_v"), col("m") * subDim + d + 1)), 6).as(s"_d$d"))
      val rows = sample
        .withColumn("m", explode(typedlit((0 until m).toArray)))
        .withColumn("code", graft.functions.Kernels.pqAssign(
          col("_v"), col("m"), codes, books))
        .groupBy("m", "code").agg(avgs.head, avgs.tail: _*)
        .collect()
      val byM = rows.groupBy(_.getInt(0))
      codes = Array.tabulate(m)(mi =>
        byM.getOrElse(mi, Array.empty).map(_.getInt(1)).sorted)
      books = Array.tabulate(m) { mi =>
        byM.getOrElse(mi, Array.empty).sortBy(_.getInt(1)).map(r =>
          Array.tabulate(subDim)(d =>
            if (r.isNullAt(d + 2)) 0.0 else r.getDouble(d + 2)))
      }
    }
    (codes, books)
  }

  /** Product quantization encode: each vector compressed to `m` code
    * ids (one byte-scale int per subspace — 32× smaller than the float
    * vector at the registered m=8/k=16/dim=64), plus the RMS
    * reconstruction error. THE storage scale path for ANN at 100 TB:
    * codes live in memory next to the IVF lists while full vectors
    * stay in cold storage for re-ranking.
    *
    * Encode is a pure codegen'd projection against literal-pinned
    * codebooks ([[graft.functions.Kernels.pqCodes]] — one kernel call per
    * row for all subspaces); the fit is O(sample) like [[Ivf]]'s.
    * Codes are emitted CSV (exact ints, engine-portable), the error as
    * `sqrt(total² / dim)` rounded to 6dp — both oracle-checkable.
    */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               m: Int = 8, k: Int = 16, iters: Int = 1,
               fitSamplePct: Int = 100, dim: Int = 64): DataFrame = {
    val (codes, books) = fitBooks(df, idCol, vecCol, m, k, iters,
      fitSamplePct, dim)
    graft.util.Par.spread(df)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .select(col("vec_id"),
        array_join(transform(
          graft.functions.Kernels.pqCodes(col("_v"), codes, books),
          c => c.cast("string")), ",").as("codes_csv"),
        round(sqrt(graft.functions.Kernels.pqErr(col("_v"), books)
          / (m * (dim / m))), 6).as("rmse"))
  }

  /** Original code id → position in books(m); seed ids are dense in
    * [0, k) so a flat array suffices. Shared by the ADC scorers.
    */
  private[simops] def codeIndex(codes: Array[Array[Int]], k: Int): Array[Array[Int]] =
    codes.map { mc =>
      val a = Array.fill(k)(0)
      mc.zipWithIndex.foreach { case (cid, i) => a(cid) = i }
      a
    }

  /** PQ-compressed brute-force top-k (ADC — asymmetric distance): rank
    * candidates by squared L2 between the full query vector and each
    * candidate's codebook RECONSTRUCTION. The memory-bound ANN shape:
    * the scan side touches only the m-byte code arrays (32× smaller
    * than vectors — at 100 TB the codes fit where the vectors never
    * could), queries broadcast, and both the encode and the ADC score
    * are pure codegen'd projections. Compose with the IVF list
    * assignment to prune candidates first; this operator is the
    * within-scope scorer.
    *
    * Output: (query_id, neighbor_id, adist, rank) — `adist` rounded to
    * 6dp, rank ties break on neighbor id, both engine-agnostic.
    *
    * Recall scales with code budget (m·log₂k bits): on the synthetic
    * random-direction embeddings (PQ's worst case — no cluster
    * structure to exploit), recall@5 vs exact measures 0.24 at
    * m=8/k=16 (32× compression), 0.30 at m=16/k=16, 0.46 at m=16/k=64
    * (16×), 0.42 at m=32/k=16 (8×) — measured by a sweep probe removed
    * after acd062c. Production embeddings cluster, so real recall runs higher
    * at every budget; pick m/k by the memory budget and re-rank the
    * top candidates exactly from cold storage.
    */
  /** OPQ's allocation half as a data-fitted PERMUTATION (Ge et al.,
    * "Optimized Product Quantization", CVPR 2013 — the parametric
    * variant's balanced-allocation step applied to per-dim variance):
    * rank dims by sample variance (rounded 6dp, ties on index), then
    * snake-deal ranks across the m subspaces so each subspace gets an
    * even mix of high- and low-variance dims. A permutation is the
    * orthogonal-rotation subset whose FIT is replayable in plain SQL
    * (one variance aggregate + a rank window) — a full eigen-rotation
    * could not share a DuckDB oracle, and simulated offline on this
    * corpus it buys nothing the permutation doesn't. Measured (sf0.001,
    * by a probe removed after acd062c): recall@5 0.30 → 0.36 at m=16/k=16, −0.02
    * (noise) at m=8 — the synthetic embeddings are near-isotropic
    * (per-dim variance spread ~1.3×, |corr| ≤ 0.18), so only the
    * finer split has imbalance to fix; the paper's larger gains track
    * exactly the anisotropy real embedding models have, which is what
    * this hook exploits when present.
    *
    * Returns the 1-based source dim for each target slot. The fit is
    * one combinable 64-row aggregate over the md5-bucket sample —
    * the same bounded driver action as the codebook fit.
    */
  def opqVarPermutation(df: DataFrame, idCol: String, vecCol: String,
                        m: Int = 8, dim: Int = 64,
                        fitSamplePct: Int = 60): Seq[Int] = {
    require(m > 0 && dim % m == 0, s"dim ($dim) must divide into m ($m)")
    val sub = dim / m
    // same absolute cap as the codebook fit — the variance rank needs
    // a FIXED-size sample, not a fixed fraction (Ivf.fitSample;
    // ckpt=false — a single aggregate consumes this draw, a
    // materialization job would buy nothing)
    val sample = Ivf.fitSample(df, idCol, vecCol, fitSamplePct, -1L,
      ckpt = false)
    // the variance formula is written IDENTICALLY in the oracle SQL
    // (sum-of-squares form, rounded 6dp) so the rank keys can't drift
    val vrr = sample.select(posexplode(col("_v")).as(Seq("p", "x")))
      .groupBy(col("p"))
      .agg(round(sum(col("x") * col("x")) / count(lit(1)) -
        (sum(col("x")) / count(lit(1))) * (sum(col("x")) / count(lit(1))),
        6).as("vrr"))
      .collect().map(r => (r.getInt(0) + 1, r.getDouble(1)))
    val ranked = vrr.sortBy { case (dd, v) => (-v, dd) }.map(_._1)
    val perm = new Array[Int](dim)
    for (r <- ranked.indices) {
      val pos = r % m
      val blk = r / m
      val b = if (blk % 2 == 0) pos else m - 1 - pos
      perm(b * sub + blk) = ranked(r)
    }
    perm.toSeq
  }

  /** `df` with `vecCol` replaced by its `perm`-permuted double-cast
    * form — a literal projection, no exchange (the residual-encode
    * pattern). `perm` is 1-based source dims from
    * [[opqVarPermutation]].
    */
  def permuted(df: DataFrame, idCol: String, vecCol: String,
               perm: Seq[Int]): DataFrame = {
    val vv = col(vecCol).cast("array<double>")
    df.select(col(idCol),
      array(perm.map(dd => element_at(vv, dd)): _*).as(vecCol))
  }

  /** [[pqEncode]] behind the OPQ variance-balancing permutation: fit
    * the permutation on the sample, permute (pure projection), then
    * the standard sampled codebook fit and codegen'd encode — same
    * output schema, same m·k budget, subspaces now balanced by
    * construction.
    */
  def pqEncodeOpq(df: DataFrame, idCol: String, vecCol: String,
                  m: Int = 8, k: Int = 16, iters: Int = 1,
                  fitSamplePct: Int = 100, dim: Int = 64): DataFrame = {
    val perm = opqVarPermutation(df, idCol, vecCol, m, dim, fitSamplePct)
    pqEncode(permuted(graft.util.Par.spread(df), idCol, vecCol, perm),
      idCol, vecCol, m, k, iters, fitSamplePct, dim)
  }

  def pqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
             vecCol: String, kNN: Int, m: Int = 8, k: Int = 16,
             iters: Int = 1, fitSamplePct: Int = 100,
             dim: Int = 64): DataFrame = {
    val (codes, books) = fitBooks(candidates, idCol, vecCol, m, k, iters,
      fitSamplePct, dim)
    val idx = codeIndex(codes, k)
    val cand = graft.util.Par.spread(candidates)
      .select(col(idCol).as("neighbor_id"),
        graft.functions.Kernels.pqCodes(
          col(vecCol).cast("array<double>"), codes, books).as("_codes"))
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("_qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(graft.functions.Kernels.pqAdc(
        col("_qv"), col("_codes"), idx, books), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
  }

  /** `v − centroid(list_id)` as a pure Column projection: the centroid
    * table is driver-resident index metadata, pinned into the plan as a
    * map LITERAL keyed by list id (the [[Ivf]] literal-centroid
    * discipline), so the subtraction adds no join and no shuffle.
    */
  private[simops] def residualCol(cents: Seq[(Int, Seq[Double])], v: Column,
                          listId: Column): Column =
    zip_with(v, element_at(typedlit(cents.toMap), listId), (x, c) => x - c)

  /** IVF + PQ composed — the standard billion-scale ANN architecture:
    * candidates partition into [[Ivf]] lists AND compress to PQ codes;
    * a query probes its `nprobe` nearest lists and ADC-scores ONLY
    * those candidates' codes. Candidate volume drops to
    * ~N·nprobe/nlist and the scored payload is the m-byte code array,
    * not the vector — the scan that fits in memory at 100 TB. Both
    * index fits are sample-bounded; assignment, encode, probe and
    * score are pure codegen'd projections; the only data-sized
    * exchange is the list_id-keyed probe join (queries broadcast).
    *
    * `residual` (default true) encodes `v − centroid(list(v))` instead
    * of the raw vector — the standard IVFADC composition (Jégou et
    * al.): within a list the residuals span a far smaller cell than
    * the whole space, so the same m/k code budget quantizes finer and
    * recall rises at identical storage (measured on the worst-case
    * random-direction twin at nprobe=nlist, isolating the encoding:
    * recall@5 0.30 vs 0.24 raw at m=8/k=16, 0.40 vs 0.30 at m=16/k=16
    * — by a probe removed after acd062c; clustered production
    * embeddings gain more).
    * The query side subtracts the SAME probed list's
    * centroid before ADC, so distances stay comparable; both
    * subtractions are literal-centroid projections (no extra shuffle),
    * and the DuckDB oracle replays the identical residual arithmetic.
    * `residual = false` keeps the raw-encoding twin for comparison.
    */
  def ivfPqTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
                vecCol: String, kNN: Int, nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, k: Int = 16, iters: Int = 1,
                fitSamplePct: Int = 100, dim: Int = 64,
                residual: Boolean = true): DataFrame = {
    // one count action feeds BOTH sample clamps: the IVF fit's (inside
    // fitSeq) and the PQ fit frame's below — the two fits must draw
    // the SAME capped md5 bucket or the oracle's shared sample CTE
    // (which always clamps) diverges past FitSampleTarget/pct rows
    val nCand =
      if (fitSamplePct >= 100) -1L
      else candidates.select(col(idCol)).count()
    val cents = Ivf.fitSeq(candidates, idCol, vecCol, nlist, iters,
      fitSamplePct, nCand)
    val assigned = graft.util.Par.spread(candidates)
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_cv"))
      .withColumn("_sims", Ivf.simsCol(cents, col("_cv")))
      .withColumn("list_id", Ivf.nearestList(cents, col("_sims")))
      .withColumn("_ev",
        if (residual) residualCol(cents, col("_cv"), col("list_id"))
        else col("_cv"))
      .select(col("neighbor_id"), col("list_id"), col("_ev"))
    // codebooks fit on the ENCODED space (residuals when enabled). The
    // fit frame is the md5-bucket SAMPLE of the assigned vectors,
    // materialized once (localCheckpoint): the fit's seed collect and
    // every Lloyd pass re-read this frame, and without the checkpoint
    // each re-read re-runs the centroid-assignment + residual subplan
    // over the sample (measured ~2× the operator's fixed cost).
    // O(sample) storage — index-fit scale, never corpus scale. Passing
    // fitSamplePct=100 below is NOT a semantics change: the frame is
    // already the pct-bucket sample, so the fit sees the same rows,
    // same seeds, same Lloyd input as an in-fit filter would give.
    // The bucket bound is the SAME cappedPct clamp fitSeq applied (one
    // shared count), keeping both fits on one sample at every scale.
    val effPct =
      if (fitSamplePct >= 100) 100
      else graft.util.Sampling.cappedPct(nCand, fitSamplePct)
    val fitFrame = (if (effPct >= 100) assigned
      else assigned.filter(
        graft.util.Sampling.md5Bucket(col("neighbor_id")) < lit(effPct)))
      .select(col("neighbor_id"), col("_ev"))
      .localCheckpoint()
    val (codes, books) = fitBooks(fitFrame, "neighbor_id", "_ev", m, k,
      iters, 100, dim)
    val idx = codeIndex(codes, k)
    val cand = assigned.select(col("neighbor_id"), col("list_id"),
      graft.functions.Kernels.pqCodes(col("_ev"), codes, books).as("_codes"))
    val qp = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("_sims", Ivf.simsCol(cents, col("_qv")))
      .withColumn("list_id",
        explode(Ivf.probeLists(cents, col("_sims"), nprobe)))
      .withColumn("_qe",
        if (residual) residualCol(cents, col("_qv"), col("list_id"))
        else col("_qv"))
      .select(col("query_id"), col("list_id"), col("_qe"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    cand.join(broadcast(qp), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(graft.functions.Kernels.pqAdc(
        col("_qe"), col("_codes"), idx, books), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("neighbor_id"), col("adist"), col("rank"))
  }

  /** SemDeDup-style semantic deduplication: the keep/drop DECISION per
    * vector, scoped by embedding cluster. Every vector is assigned to
    * its nearest [[Ivf]] centroid (a pure codegen'd projection — the
    * fit can run on an md5-bucket sample, see [[Ivf.fitSeq]]); within
    * each list, a vector is DROPPED iff some lower-id vector in the
    * same list has cosine ≥ `threshold` with it. Greedy lowest-id-wins
    * is the standard SemDeDup decision rule — no connected components
    * needed, because "near-dup of a kept doc" is decided per pair.
    *
    * Scale shape: the only data-sized exchange is the within-list
    * self-join keyed on `list_id` — the semantic analogue of an LSH
    * band join. Per-list fan-out is O(listSize²); `nlist` is the knob
    * that bounds it (SemDeDup runs with tens of thousands of clusters
    * at corpus scale precisely so each list stays small — size nlist ∝
    * corpus_size / target_list_size). Vector payloads must ride the
    * join (scoring needs both sides), which is why the 4× cut from
    * [[quantizeInt8]] upstream matters.
    *
    * Output: one row per input vector — (vec_id, list_id, kept).
    */
  /** The nlist sizing CONTRACT made executable: nlist ∝ N /
    * targetListSize, clamped to [minNlist, maxNlist]. With it the
    * within-list self-join's per-list fan-out is bounded at
    * ~targetListSize² rows regardless of corpus size — the knob stops
    * being a constant someone forgot to retune at 100 TB. At the
    * defaults, 1e11 vectors → nlist ≈ 2²⁶ · 48, still far below the
    * clamp; the clamp exists so degenerate inputs (empty frame, tiny
    * fixture) keep a sane k-means problem.
    */
  def autoNlist(n: Long, targetListSize: Int = 32,
                minNlist: Int = 4, maxNlist: Int = 1 << 20): Int = {
    require(targetListSize > 0, s"targetListSize must be > 0")
    // overflow-safe ceil (n + target - 1 wraps near Long.MaxValue)
    val want = n / targetListSize + (if (n % targetListSize == 0) 0 else 1)
    math.min(math.max(want, minNlist.toLong), maxNlist.toLong).toInt
  }

  def semanticDedup(df: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nlist: Int = 16, iters: Int = 1,
                    fitSamplePct: Int = 100): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1,1], got $threshold")
    val cents = Ivf.fitSeq(df, idCol, vecCol, nlist, iters, fitSamplePct)
    // ONE list-keyed exchange shared by the self-join's both sides AND
    // the output projection (guide §2.4): without it each of the three
    // consumers replayed the full assignment kernel (scan + nlist-dot
    // argmax per row) — the self-join needs this exact partitioning
    // anyway, so at scale this adds no shuffle, it only stops the
    // recompute.
    val assigned = graft.util.Par.spread(df)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_n", Similarity.norm(col("_v")))
      .withColumn("_sims", Ivf.simsCol(cents, col("_v")))
      .withColumn("list_id", Ivf.nearestList(cents, col("_sims")))
      .drop("_sims")
      .repartition(col("list_id"))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.list_id") === col("b.list_id")
          && col("a.vec_id") > col("b.vec_id"))
      .filter(round(Similarity.cosinePre(
        graft.functions.VectorOps.dot(col("a._v"), col("b._v")),
        col("a._n"), col("b._n")), 4) >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("_drop", lit(true))
    assigned.select(col("vec_id"), col("list_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        coalesce(!col("_drop"), lit(true)).as("kept"))
  }

  /** [[semanticDedup]] at the [[autoNlist]] contract: nlist grows with
    * the corpus (⌈n / targetListSize⌉), assigned through a TWO-LEVEL
    * index ([[Ivf.fitHier]]) so the per-row assignment cost is
    * O(√nlist·dim) instead of O(nlist·dim) — the shape that lets both
    * halves of SemDeDup stay linear in corpus size: assignment
    * O(n·√nlist·dim), within-list pair fan-out O(n·targetListSize).
    * A flat [[semanticDedup]] honoring autoNlist would pay
    * O(n·nlist·dim) = O(n²·dim/targetListSize) just to assign.
    *
    * Global list id = coarse_id · S + sub_id; the keep/drop rule, the
    * 4dp cosine rounding, and the greedy lowest-id-wins convention are
    * [[semanticDedup]]'s unchanged. `knownCount` skips the sizing
    * count when the caller already knows n (checkpointed upstreams).
    */
  def semanticDedupHier(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, targetListSize: Int = 32,
                        iters: Int = 1, fitSamplePct: Int = 100,
                        knownCount: Long = -1L): DataFrame =
    semanticDedupHierAt(Ivf.ForestLiteralMaxLists)(df, idCol, vecCol,
      threshold, targetListSize, iters, fitSamplePct, knownCount)

  /** [[semanticDedupHier]] with the dispatch threshold injectable —
    * EmbedSpec forces the relational-forest branch at a spec-sized
    * geometry and pins output equality with the literal plan.
    */
  private[simops] def semanticDedupHierAt(literalMax: Int)(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, targetListSize: Int, iters: Int,
      fitSamplePct: Int, knownCount: Long): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1,1], got $threshold")
    val n = if (knownCount >= 0) knownCount
      else df.select(col(idCol)).count()
    val nlist = autoNlist(n, targetListSize)
    // list-keyed exchange shared by the self-join's both sides and the
    // output projection — see semanticDedup: the three consumers
    // otherwise each replay the two-level assignment kernel over the
    // corpus, and the self-join shuffles by list_id regardless
    val assigned = hierAssignerAt(literalMax)(df, idCol, vecCol, nlist,
      iters, fitSamplePct, n)(df)
      .repartition(col("list_id"))
    val dropped = assigned.as("a").join(assigned.as("b"),
        col("a.list_id") === col("b.list_id")
          && col("a.vec_id") > col("b.vec_id"))
      .filter(round(Similarity.cosinePre(
        graft.functions.VectorOps.dot(col("a._v"), col("b._v")),
        col("a._n"), col("b._n")), 4) >= threshold)
      .select(col("a.vec_id").as("vec_id")).distinct()
      .withColumn("_drop", lit(true))
    assigned.select(col("vec_id"), col("list_id"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        coalesce(!col("_drop"), lit(true)).as("kept"))
  }

  /** The store-shaped assignment frame: (vec_id, list_id, vec) for
    * [[SemanticStore]] — doubles round-trip parquet exactly, so the
    * stored probe decides bit-identically to the in-DAG form.
    */
  private[simops] def assignFrame(df: DataFrame, idCol: String,
                                  vecCol: String,
                                  h: Ivf.HierIndex): DataFrame =
    hierAssign(df, idCol, vecCol, h)
      .select(col("vec_id"), col("list_id"), col("_v").as("vec"))

  /** Full-corpus two-level assignment: a pure codegen'd projection —
    * coarse argmax (C dots) then within-cell sub argmax (≤S dots), no
    * shuffle. Output carries the vector and its norm for downstream
    * pair scoring.
    */
  private def hierAssign(df: DataFrame, idCol: String, vecCol: String,
                         h: Ivf.HierIndex): DataFrame =
    graft.util.Par.spread(df)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_n", Similarity.norm(col("_v")))
      .withColumn("_c",
        Ivf.nearestList(h.coarse, Ivf.simsCol(h.coarse, col("_v"))))
      .withColumn("list_id", h.listIdCol(col("_v"), col("_c")))
      .drop("_c")

  /** Fit once, assign many — dispatching on forest size: at or below
    * [[Ivf.ForestLiteralMaxLists]] the forest rides as codegen plan
    * literals (zero-shuffle assignment — every registered geometry);
    * past it ([[Embed.autoNlist]]'s clamp region) the forest becomes a
    * broadcast relation ([[Ivf.fitHierR]]/[[Ivf.assignHierR]]): refit
    * stays distributed, driver state stays O(√nlist·dim), and
    * assignment pays one broadcast-join + map-side-combined argmax
    * instead of shipping ~0.5 GB of literals in every task closure.
    * Same float kernels and tiebreaks — assignments are bit-identical
    * (pinned in IvfSpec), so the dispatch threshold is a pure physics
    * knob, invisible to results.
    */
  private def hierAssigner(fitOn: DataFrame, idCol: String, vecCol: String,
                           nlist: Int, iters: Int, fitSamplePct: Int,
                           knownCount: Long): DataFrame => DataFrame =
    hierAssignerAt(Ivf.ForestLiteralMaxLists)(fitOn, idCol, vecCol,
      nlist, iters, fitSamplePct, knownCount)

  /** [[hierAssigner]] with an injectable dispatch threshold — the
    * test seam that lets EmbedSpec drive the FULL semantic-dedup flow
    * through the relational branch at a spec-sized geometry (the
    * production threshold only activates past 65 536 lists, far
    * beyond any fixture).
    */
  private[simops] def hierAssignerAt(literalMax: Int)(
      fitOn: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, fitSamplePct: Int,
      knownCount: Long): DataFrame => DataFrame =
    if (nlist <= literalMax) {
      val h = Ivf.fitHier(fitOn, idCol, vecCol, nlist, iters,
        fitSamplePct, knownCount)
      df => hierAssign(df, idCol, vecCol, h)
    } else {
      val h = Ivf.fitHierR(fitOn, idCol, vecCol, nlist, iters,
        fitSamplePct, knownCount)
      df => Ivf.assignHierR(df, idCol, vecCol, h)
        .withColumn("_n", Similarity.norm(col("_v")))
        .select(col("_id").as("vec_id"), col("_v"), col("_n"),
          col("list_id"))
    }

  /** Observability for the semantic-dedup geometry — the capstats
    * convention ([[graft.dedup.Dedup]]'s `dedup_minhash_capstats` /
    * `ngram_df_capstats`): the O(n·targetListSize) within-list pair
    * bound is only as good as the ACTUAL list-size distribution the
    * fitted forest produces, so surface it as an oracle-checked row
    * rather than a silent law. One integer-only aggregate over the
    * assignment projection — no float surface at all.
    *
    * Output: one row — (n_vecs, n_lists, max_list, over_2x_target =
    * #lists larger than 2·targetListSize, the skew the pair bound
    * quietly absorbs).
    */
  def semanticListStats(df: DataFrame, idCol: String, vecCol: String,
                        targetListSize: Int = 32, iters: Int = 1,
                        fitSamplePct: Int = 100,
                        knownCount: Long = -1L): DataFrame = {
    val n = if (knownCount >= 0) knownCount
      else df.select(col(idCol)).count()
    val nlist = autoNlist(n, targetListSize)
    hierAssigner(df, idCol, vecCol, nlist, iters, fitSamplePct, n)(df)
      .groupBy(col("list_id")).agg(count(lit(1)).as("sz"))
      .agg(sum(col("sz")).as("n_vecs"),
        count(lit(1)).as("n_lists"),
        max(col("sz")).as("max_list"),
        sum(when(col("sz") > lit(2L * targetListSize), 1L)
          .otherwise(0L)).as("over_2x_target"))
  }

  /** The semantic-dedup DAILY-INGEST decision — the embedding twin of
    * [[graft.dedup.Dedup.hammingIncremental]]: for each incoming
    * vector, is it a semantic near-dup (cosine ≥ threshold) of
    * something already in the corpus, and of what? The index is fitted
    * on the CORPUS only (the persisted-centroid convention: a stored
    * index would replay exactly this fit), the increment is assigned
    * to lists through the same two-level projection, and candidates
    * are compared only within the incoming vector's list.
    *
    * Scale shape (the corpus NEVER shuffles): corpus assignment is a
    * pure projection over the corpus scan; the increment's assigned
    * frame is checkpointed and BROADCAST, so the within-list candidate
    * join runs map-side against the corpus — no corpus-sized exchange
    * anywhere, O(increment · listSize) candidate pairs.
    *
    * Output: one row per incoming id — (id, list_id, dup_of: best
    * corpus match or null, sim or null, is_new). Best = highest
    * cosine, then lowest corpus id.
    */
  def semanticDedupIncremental(incoming: DataFrame, corpus: DataFrame,
                               idCol: String, vecCol: String,
                               threshold: Double, targetListSize: Int = 32,
                               iters: Int = 1, fitSamplePct: Int = 100,
                               knownCorpusCount: Long = -1L): DataFrame = {
    require(threshold >= -1.0 && threshold <= 1.0,
      s"cosine threshold must be in [-1,1], got $threshold")
    val n = if (knownCorpusCount >= 0) knownCorpusCount
      else corpus.select(col(idCol)).count()
    val nlist = autoNlist(n, targetListSize)
    val assign = hierAssigner(corpus, idCol, vecCol, nlist, iters,
      fitSamplePct, n)
    probeWithinLists(assign(incoming), assign(corpus), idCol, threshold)
  }

  /** [[semanticDedupIncremental]] against a PERSISTED
    * [[SemanticStore]]: the forest is read back (bounded collect), the
    * increment assigned through the same projection, and the corpus
    * side is the store's `assigned/` parquet — no corpus fit, no
    * corpus assignment kernel, just a columnar scan streaming into the
    * broadcast probe. The daily cost drops to O(increment·√nlist·dim)
    * assignment + O(matched) verify; decisions are bit-identical to
    * the in-DAG form (same forest, same doubles), so the two share an
    * oracle.
    */
  def semanticDedupStored(incoming: DataFrame, store: SemanticStore.Store,
                          idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val h = SemanticStore.indexOf(store.forest)
    val cor = store.assigned
      .select(col("vec_id"), col("list_id"),
        col("vec").cast("array<double>").as("_v"))
      .withColumn("_n", Similarity.norm(col("_v")))
    probeWithinLists(hierAssign(incoming, idCol, vecCol, h), cor,
      idCol, threshold)
  }

  /** The shared within-list probe: increment assigned frame
    * (checkpointed, BROADCAST — its band keys are the only thing the
    * corpus meets) against a corpus assigned frame that streams
    * map-side. Best match = highest 4dp cosine, then lowest corpus id.
    */
  private def probeWithinLists(incAssigned: DataFrame,
                               corAssigned: DataFrame, idCol: String,
                               threshold: Double): DataFrame = {
    val inc = incAssigned
      .withColumnRenamed("vec_id", "inc_id")
      .withColumnRenamed("_v", "_iv")
      .withColumnRenamed("_n", "_in")
      .localCheckpoint()
    val cor = corAssigned.withColumnRenamed("vec_id", "dup_id")
    val verified = cor.join(broadcast(inc), Seq("list_id"))
      .filter(col("inc_id") =!= col("dup_id"))
      .withColumn("sim", round(Similarity.cosinePre(
        graft.functions.VectorOps.dot(col("_iv"), col("_v")),
        col("_in"), col("_n")), 4))
      .filter(col("sim") >= threshold)
      .select(col("inc_id"), col("dup_id"), col("sim"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("inc_id"))
      .orderBy(col("sim").desc, col("dup_id").asc)
    val best = verified
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("inc_id"), col("dup_id").as("dup_of"), col("sim"))
    // output ids come from the CHECKPOINTED assigned frame, not from
    // `incoming` (whose lineage may be an expensive upstream)
    inc.select(col("inc_id"), col("list_id"))
      .join(broadcast(best), Seq("inc_id"), "left")
      .select(col("inc_id").as(idCol), col("list_id"), col("dup_of"),
        col("sim"), col("dup_of").isNull.as("is_new"))
  }
}
