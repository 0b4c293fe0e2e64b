package graft.simops

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the second scale
  * path next to hyperplane LSH ([[Similarity.lshTopK]]).
  *
  * Index: k-means-style centroids (deterministic seeds = lowest-id
  * vectors, a few Lloyd refinements), each candidate assigned to its
  * nearest centroid ("list"). Query: probe the `nprobe` nearest lists
  * only, exact-rank within them. Candidate volume per query drops from N
  * to ~N·nprobe/nlist.
  *
  * Shuffle shape at scale: the index (`nlist` centroid vectors) lives on
  * the driver and is pinned into the plan as LITERALS — exactly like the
  * hyperplane matrix in [[Similarity.lshSignature]] — so nearest-centroid
  * assignment is a pure codegen'd projection: `nlist` [[VectorOps.dot]]
  * kernels against literal arrays + one `array_max` argmax. Zero shuffle
  * per Lloyd iteration (a naive relational k-means re-shuffles the whole
  * vector table once per iteration to group pair scores — at 100 TB that
  * is the entire corpus over the wire, per pass). The only exchange per
  * iteration carries `nlist` rows of per-dimension partial means; the
  * only data-sized exchange in the whole operator is the final probe
  * join, keyed on the small `list_id`.
  *
  * Fit cost at scale: a Lloyd pass is a full scan of its input, so
  * fitting on the whole corpus costs O(corpus) PER ITERATION — at 100 TB
  * that is the one remaining corpus-sized term in index construction.
  * `fitSamplePct` bounds it: the seeds and every Lloyd refinement run on
  * a deterministic md5-bucket sample ([[graft.util.Sampling.md5Bucket]],
  * the same engine-portable draw the stratified sampler uses), while
  * final assignment of ALL candidates stays a full-corpus pure
  * projection. Centroid quality degrades negligibly (k-means converges
  * on any representative sample; recall asserted in IvfSpec), and the
  * oracle replays the identical sample, so results stay exactly
  * checkable.
  */
object Ivf {

  /** Fitted index, driver-resident: (list_id, centroid). O(nlist·dim) —
    * index metadata, never O(rows).
    */
  private[simops] def fitSeq(df: DataFrame, idCol: String, vecCol: String,
                     nlist: Int, iters: Int,
                     fitSamplePct: Int,
                     knownCount: Long = -1L): Seq[(Int, Seq[Double])] =
    fitSeqOn(fitSample(df, idCol, vecCol, fitSamplePct, knownCount),
      nlist, iters)

  /** The fit's sample frame `(_id, _v)` — CHECKPOINTED when it is a
    * genuine sample (effPct < 100): the fit runs 2+ actions over it
    * (seeds, every Lloyd pass — 4+ in the two-level fit), and each
    * action otherwise replays the source scan + cast + md5 filter.
    * The sample is bounded (cappedPct targets ~20k rows at any corpus
    * size — the sanctioned fit-sample checkpoint class), so one
    * materialization serves every pass; at 100 TB this is N sample
    * filter passes over the corpus collapsed into one. A 100-pct
    * "sample" is the corpus itself and stays lazy (never checkpoint
    * corpus-scale frames).
    */
  private[simops] def fitSample(df: DataFrame, idCol: String,
                     vecCol: String, fitSamplePct: Int,
                     knownCount: Long, ckpt: Boolean = true): DataFrame = {
    require(fitSamplePct > 0 && fitSamplePct <= 100,
      s"fitSamplePct must be in (0,100], got $fitSamplePct")
    val all = graft.util.Par.spread(df).select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
    // pct capped to the absolute fit target (parquet-metadata count, no
    // scan) so Lloyd passes cost O(target) at any corpus size;
    // `knownCount` lets callers that already counted (autoNlist sizing)
    // skip the second count action
    val effPct =
      if (fitSamplePct >= 100) 100
      else graft.util.Sampling.cappedPct(
        if (knownCount >= 0) knownCount else df.count(), fitSamplePct)
    val sampled =
      if (effPct >= 100) all
      else all.filter(
        graft.util.Sampling.md5Bucket(col("_id")) < lit(effPct))
    // ckpt=false for single-action consumers (one aggregate over the
    // draw) where a materialization job buys nothing
    if (effPct >= 100 || !ckpt) sampled else sampled.localCheckpoint()
  }

  /** [[fitSeq]] over a prepared sample frame. */
  private[simops] def fitSeqOn(vecs: DataFrame, nlist: Int,
                     iters: Int): Seq[(Int, Seq[Double])] = {
    // deterministic seeds: the nlist lowest-id vectors
    var cents: Seq[(Int, Seq[Double])] = vecs.orderBy("_id").limit(nlist)
      .select(col("_v")).collect().toSeq
      .map(_.getSeq[Double](0)).zipWithIndex.map { case (v, i) => (i, v) }
    require(cents.nonEmpty,
      "Ivf: cannot fit an index on an empty candidate frame")
    for (_ <- 0 until iters) {
      val dim = cents.iterator.map(_._2.length).max
      // per-dimension mean in ONE hash aggregate (map-side partials);
      // ROUNDED to 6 decimal places: a double mean's partial-aggregation
      // association order varies run to run at the 1e-15 level, and every
      // downstream assignment/probe compares distances derived from the
      // centroids — rounding well above the association noise (and well
      // below any real centroid separation) makes the whole index
      // bit-reproducible across runs AND engines, which is what lets the
      // DuckDB oracle replay Lloyd's iteration.
      val avgs = (0 until dim).map(i => round(avg(col("_v")(i)), 6).as(s"_m$i"))
      val rows = vecs
        .withColumn("_sims", simsCol(cents, col("_v")))
        .withColumn("list_id", nearestList(cents, col("_sims")))
        .groupBy("list_id").agg(avgs.head, avgs.tail: _*)
        .collect()
      // a list that attracts no vectors disappears (same as the
      // relational groupBy form); survivors keep their original ids.
      // Ragged corpora: a dimension every member of a list lacks has a
      // NULL mean — contribute 0.0 there instead of NPEing
      cents = rows.toSeq.map(r =>
        (r.getInt(0), (1 to dim).map(i =>
          if (r.isNullAt(i)) 0.0 else r.getDouble(i)))).sortBy(_._1)
    }
    cents
  }

  /** All-centroid cosine sims for `v` as one codegen'd kernel call
    * ([[graft.functions.CentroidSimsExpr]]); sims[i] scores cents(i).
    */
  private[simops] def simsCol(cents: Seq[(Int, Seq[Double])], v: Column): Column =
    graft.functions.CentroidSimsExpr(v, cents.map(_._2.toArray).toArray)

  /** Nearest list id for `v` — a pure projection, no shuffle. The FIRST
    * occurrence of the max sim wins; cents is sorted by list id, so ties
    * break to the smallest id — the same order as
    * `row_number over (order by sim desc, list_id)`.
    */
  private[simops] def nearestList(cents: Seq[(Int, Seq[Double])], sims: Column): Column =
    element_at(typedlit(cents.map(_._1)),
      array_position(sims, array_max(sims)).cast("int"))

  /** The `nprobe` nearest list ids for a query vector, nearest first —
    * also a pure projection (descending (sim, -list_id) struct sort = sim
    * desc, list_id asc, matching the window-rank tiebreak).
    */
  private[simops] def probeLists(cents: Seq[(Int, Seq[Double])],
                         sims: Column, nprobe: Int): Column =
    transform(
      slice(reverse(array_sort(
        zip_with(sims, typedlit(cents.map(_._1)),
          (s, l) => struct(s.as("sim"), (-l).as("nlid"))))), 1, nprobe),
      s => (-s.getField("nlid")).cast("int"))

  /** Probe-and-rank top-k. Queries must be small (broadcast).
    * `fitSamplePct` < 100 fits the index on a deterministic md5-bucket
    * sample of the candidates (see the object doc) — assignment and
    * ranking still cover every candidate.
    */
  def topK(queries: DataFrame, candidates: DataFrame, idCol: String,
           vecCol: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
           iters: Int = 2, fitSamplePct: Int = 100): DataFrame = {
    val cents = fitSeq(candidates, idCol, vecCol, nlist, iters, fitSamplePct)

    val cand = graft.util.Par.spread(candidates)
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("cv"))
      .withColumn("cn", Similarity.norm(col("cv")))
      .withColumn("_sims", simsCol(cents, col("cv")))
      .withColumn("list_id", nearestList(cents, col("_sims")))
      .drop("_sims")

    // each query probes its nprobe nearest lists
    val qProbe = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("qv"))
      .withColumn("qn", Similarity.norm(col("qv")))
      .withColumn("_sims", simsCol(cents, col("qv")))
      .withColumn("list_id", explode(probeLists(cents, col("_sims"), nprobe)))
      .drop("_sims")

    val scored = cand.join(broadcast(qProbe), Seq("list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(
        Similarity.cosinePre(VectorOps.dot(col("qv"), col("cv")),
          col("qn"), col("cn")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** A fitted two-level index: `coarse` cells (survivor semantics, ids
    * 0..C-1 possibly sparse) each subdivided into up to `s`
    * sub-centroids. `subCents`/`subIds` are indexed BY coarse id
    * (empty inner array for a dropped coarse cell); global list id =
    * coarse_id · s + local sub id. Driver-resident index metadata —
    * O(nlist·dim), bounded by [[Embed.autoNlist]]'s maxNlist clamp.
    */
  private[simops] case class HierIndex(
      coarse: Seq[(Int, Seq[Double])], s: Int,
      subCents: Array[Array[Array[Double]]], subIds: Array[Array[Int]]) {
    def listIdCol(v: Column, coarseId: Column): Column =
      coarseId * lit(s) +
        graft.functions.SubNearestExpr(v, coarseId, subCents, subIds)
  }

  /** Hierarchical (two-level) IVF fit: C = ⌈√nlist⌉ coarse cells via
    * [[fitSeq]], then per surviving coarse cell up to S = ⌈nlist/C⌉
    * sub-centroids fitted on the SAME md5-bucket sample — seeds are
    * each cell's S lowest-id sample vectors, refined by `iters` Lloyd
    * passes with the fitSeq conventions (6dp-rounded per-dimension
    * means, empty cells disappear keeping surviving ids, NULL dims
    * contribute 0.0).
    *
    * Why two levels: a flat nlist-way argmax is O(nlist·dim) per row,
    * so honoring `autoNlist` (nlist ∝ corpus) would make assignment
    * itself quadratic-ish in corpus size; splitting √nlist × √nlist
    * makes full assignment O(√nlist·dim) per row while the within-list
    * pair fan-out keeps the O(targetListSize) bound. Both Lloyd levels
    * are distributed (one map-side-partial hash aggregate per pass);
    * the only driver-side state is the centroid forest itself —
    * O(nlist·dim) doubles, bounded by autoNlist's 2²⁰ clamp (at the
    * clamp, move the forest from plan literals to a broadcast relation;
    * the assignment-cost law is unchanged).
    */
  private[simops] def fitHier(df: DataFrame, idCol: String, vecCol: String,
                              nlist: Int, iters: Int, fitSamplePct: Int,
                              knownCount: Long = -1L): HierIndex = {
    val c = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val s = (nlist + c - 1) / c
    // ONE sample materialization shared by both fit levels (the coarse
    // fitSeq used to re-derive its own copy, so every fit action
    // replayed the source scan + cast + md5 filter)
    val vecs = fitSample(df, idCol, vecCol, fitSamplePct, knownCount)
    val coarse = fitSeqOn(vecs, c, iters)
    val sasg = vecs
      .withColumn("_sims", simsCol(coarse, col("_v")))
      .withColumn("coarse_id", nearestList(coarse, col("_sims")))
      .drop("_sims")
    // seeds: each coarse cell's S lowest-id sample vectors
    val wSeed = org.apache.spark.sql.expressions.Window
      .partitionBy(col("coarse_id")).orderBy(col("_id"))
    var subs: Map[(Int, Int), Seq[Double]] =
      sasg.withColumn("_rn", row_number().over(wSeed))
        .filter(col("_rn") <= s)
        .select(col("coarse_id"), (col("_rn") - 1).as("sub_id"), col("_v"))
        .collect().iterator
        .map(r => ((r.getInt(0), r.getInt(1)), r.getSeq[Double](2))).toMap
    require(subs.nonEmpty,
      "Ivf.fitHier: cannot fit an index on an empty candidate frame")
    val dim = coarse.iterator.map(_._2.length).max
    for (_ <- 0 until iters) {
      val (sc, si) = subArrays(c, subs)
      val avgs = (0 until dim).map(i => round(avg(col("_v")(i)), 6).as(s"_m$i"))
      val rows = sasg.withColumn("sub_id",
          graft.functions.SubNearestExpr(col("_v"), col("coarse_id"), sc, si))
        .groupBy("coarse_id", "sub_id").agg(avgs.head, avgs.tail: _*)
        .collect()
      subs = rows.iterator.map(r =>
        ((r.getInt(0), r.getInt(1)), (2 until 2 + dim).map(i =>
          if (r.isNullAt(i)) 0.0 else r.getDouble(i)): Seq[Double])).toMap
    }
    val (sc, si) = subArrays(c, subs)
    HierIndex(coarse, s, sc, si)
  }

  /** Lists threshold above which the fitted sub-centroid forest is
    * kept as a BROADCAST RELATION instead of codegen plan literals.
    * The literal path serializes the whole forest into every task
    * closure and collects O(nlist·dim) refit means to the driver per
    * Lloyd pass — at [[Embed.autoNlist]]'s 2²⁰ clamp that is ~0.5 GB
    * of driver state and per-task bytes. Past this threshold
    * ([[fitHierR]]/[[assignHierR]]) the forest lives as a DataFrame:
    * refit stays fully distributed (the only collect anywhere is the
    * O(C·dim) coarse level, C = ⌈√nlist⌉ ≤ 1024 at the clamp), and
    * assignment is a broadcast hash join on `coarse_id` + one
    * map-side-combined argmax — same float kernels, same tiebreaks,
    * bit-identical assignments (pinned in IvfSpec). 65536 lists at
    * dim 64 ≈ 32 MB of literals — comfortably past every registered
    * row's geometry (zsf10's autoNlist is 15 625), so existing rows
    * keep the zero-shuffle literal plan unchanged.
    */
  val ForestLiteralMaxLists: Int = 65536

  /** Relational two-level index: literal coarse level (bounded
    * O(√nlist·dim)) + the sub forest as a `(coarse_id, sub_id, cent,
    * cn)` DataFrame — norms precomputed once so the per-pair cosine
    * in [[assignHierR]] replays [[graft.functions.SubNearestUtil]]'s
    * exact float sequence.
    */
  case class HierIndexR(coarse: Seq[(Int, Seq[Double])], s: Int,
                        subs: DataFrame)

  /** [[fitHier]] with the sub level kept distributed end to end: the
    * seeds window, every Lloyd refit aggregate, and the forest itself
    * stay DataFrames. Per pass the sample is assigned through
    * [[assignHierR]]'s broadcast-join argmax and the per-cell means
    * are one hash aggregate; the pass result is localCheckpointed — a
    * BOUNDED frame (≤ min(sample, nlist) rows of dim doubles, ≤ ~10 MB
    * at the 20k fit-sample cap) — to cut the iterative lineage.
    * Identical math to [[fitHier]] (same 6dp-rounded means, survivor
    * semantics, NULL-dim zeros, tiebreaks) — equivalence pinned in
    * IvfSpec at a shared geometry.
    */
  def fitHierR(df: DataFrame, idCol: String, vecCol: String,
               nlist: Int, iters: Int, fitSamplePct: Int,
               knownCount: Long = -1L): HierIndexR = {
    val c = math.ceil(math.sqrt(nlist.toDouble)).toInt
    val s = (nlist + c - 1) / c
    // ONE sample materialization shared by both fit levels (the coarse
    // fitSeq used to re-derive its own copy, so every fit action
    // replayed the source scan + cast + md5 filter)
    val vecs = fitSample(df, idCol, vecCol, fitSamplePct, knownCount)
    val coarse = fitSeqOn(vecs, c, iters)
    val sasg = vecs
      .withColumn("_sims", simsCol(coarse, col("_v")))
      .withColumn("coarse_id", nearestList(coarse, col("_sims")))
      .drop("_sims")
    val wSeed = org.apache.spark.sql.expressions.Window
      .partitionBy(col("coarse_id")).orderBy(col("_id"))
    var subs = withSubNorm(sasg
      .withColumn("_rn", row_number().over(wSeed))
      .filter(col("_rn") <= s)
      .select(col("coarse_id"), (col("_rn") - 1).cast("int").as("sub_id"),
        col("_v").as("cent")))
      .localCheckpoint() // bounded: ≤ min(sample, nlist) index rows
    require(subs.head(1).nonEmpty,
      "Ivf.fitHierR: cannot fit an index on an empty candidate frame")
    val dim = coarse.iterator.map(_._2.length).max
    for (_ <- 0 until iters) {
      val avgs = (0 until dim).map(i =>
        round(avg(col("_v")(i)), 6).as(s"_m$i"))
      val refit = assignSubR(sasg, subs)
        .groupBy(col("coarse_id"), col("sub_id"))
        .agg(avgs.head, avgs.tail: _*)
        .select(col("coarse_id"), col("sub_id"),
          array((0 until dim).map(i =>
            coalesce(col(s"_m$i"), lit(0.0))): _*).as("cent"))
      // no explicit unpersist: Dataset.unpersist goes through the
      // cache manager and is a no-op for localCheckpoint's RDD-level
      // blocks — those are freed by the ContextCleaner once the old
      // frame drops out of scope. Each pass's frame is bounded
      // (≤ ~10 MB at the 20k fit cap), so holding ≤ iters of them
      // until GC is fine.
      subs = withSubNorm(refit).localCheckpoint()
    }
    HierIndexR(coarse, s, subs)
  }

  private def withSubNorm(subs: DataFrame): DataFrame =
    subs.withColumn("cn", Similarity.norm(col("cent")))

  /** The sub-level argmax as a broadcast join + one map-side-combined
    * aggregate: each `(.., _v, coarse_id)` row meets ONLY its coarse
    * cell's sub-centroids (broadcast hash join on `coarse_id` — the
    * forest is index metadata, never row-scale), the per-pair cosine
    * replays the literal kernel's float sequence exactly
    * (sequential-dot, zero-norm guard), and `max_by` over the
    * (sim, -sub_id) struct replays its first-max/lowest-sub tiebreak.
    * The shuffle carries ONE row per input id (partial aggregation
    * collapses the ≤S candidates map-side). A cell with no survivors
    * keeps sub 0 — the literal kernel's empty-cell convention, via
    * the left join's NULL → coalesce 0.
    */
  private def assignSubR(vecs: DataFrame, subs: DataFrame): DataFrame = {
    val sim = Similarity.cosinePre(
      graft.functions.VectorOps.dot(col("_v"), col("cent")),
      Similarity.norm(col("_v")), col("cn"))
    vecs.join(broadcast(subs), Seq("coarse_id"), "left")
      .withColumn("_ssim", sim)
      // NULL ordering key for unmatched (empty-cell) rows — max_by
      // ignores them, the coalesce then lands the kernel's sub-0
      .withColumn("_ord",
        when(col("sub_id").isNotNull,
          struct(col("_ssim"), (-col("sub_id")).as("_neg"))))
      .groupBy(col("_id"))
      .agg(first(col("coarse_id")).as("coarse_id"),
        first(col("_v")).as("_v"),
        coalesce(max_by(col("sub_id"), col("_ord")), lit(0)).as("sub_id"))
  }

  /** Full two-level relational assignment: literal coarse argmax
    * (pure projection) then [[assignSubR]]; output mirrors the
    * literal path's assigned frame — (`_id`, `_v`, coarse_id, sub_id,
    * list_id = coarse_id·S + sub_id).
    */
  def assignHierR(df: DataFrame, idCol: String, vecCol: String,
                  h: HierIndexR): DataFrame = {
    val vecs = graft.util.Par.spread(df).select(col(idCol).as("_id"),
      col(vecCol).cast("array<double>").as("_v"))
      .withColumn("_sims", simsCol(h.coarse, col("_v")))
      .withColumn("coarse_id", nearestList(h.coarse, col("_sims")))
      .drop("_sims")
    assignSubR(vecs, h.subs)
      .withColumn("list_id", col("coarse_id") * lit(h.s) + col("sub_id"))
  }

  private[simops] def subArrays(c: Int, subs: Map[(Int, Int), Seq[Double]])
      : (Array[Array[Array[Double]]], Array[Array[Int]]) = {
    val byCoarse = subs.toSeq.groupBy(_._1._1)
    val cents = Array.tabulate(c) { ci =>
      byCoarse.getOrElse(ci, Seq.empty).sortBy(_._1._2)
        .map(_._2.toArray).toArray
    }
    val ids = Array.tabulate(c) { ci =>
      byCoarse.getOrElse(ci, Seq.empty).map(_._1._2).sorted.toArray
    }
    (cents, ids)
  }
}
