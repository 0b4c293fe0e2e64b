package graft.simops

import graft.functions.VectorOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the standard ANN playbook:
  *  - brute-force cosine top-k: exact baseline. The query side is tiny and
  *    broadcast, so the "cross join" is a broadcast nested loop over ONE
  *    pass of the candidate set — no shuffle of the big side. At 100 TB
  *    this is the per-batch scoring pattern (Q queries × N candidates,
  *    embarrassingly parallel over candidate partitions).
  *  - random-hyperplane LSH: signature per vector (narrow), band-bucket
  *    join to generate candidates (shuffle keyed on small band keys),
  *    exact re-rank within candidates. The scale path: candidate count
  *    per query is ~bucket size, not N.
  *
  * Dot products use the codegen'd [[graft.functions.DotProductExpr]]
  * kernel (primitive unpack + tight loop); per-vector norms are computed
  * ONCE in a projection before pairing, so each pair costs one dot
  * product, not three. Accumulation is deterministic left-to-right double
  * (matters for oracle parity; SURVEY.md §7.3).
  */
object Similarity {

  /** Σ aᵢ·bᵢ with elements widened to double before multiply. */
  def dot(a: Column, b: Column): Column = VectorOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector has zero norm. Pairwise form
    * (recomputes norms) — the batch operators below hoist norms out, so
    * no row calls it; EmbedSpec's "dequantized vector preserves cosine"
    * measures the int8 round-trip with it.
    */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val nn = norm(a) * norm(b)
    when(nn === 0.0, 0.0).otherwise(d / nn)
  }

  private[simops] def cosinePre(dotCol: Column, na: Column, nb: Column): Column =
    when(na * nb === 0.0, 0.0).otherwise(dotCol / (na * nb))

  /** Exact brute-force top-k neighbors for each query vector.
    * `queries` must be small (it is broadcast). Ranking is on the rounded
    * similarity with id tiebreak so results are reproducible across
    * engines and runs.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(
        cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** k-NN majority-vote classification: each query takes the modal
    * label of its k nearest candidates (exact cosine, same rounded-sim
    * + id tiebreak as [[bruteForceTopK]]; vote ties break to the
    * smallest label). The label-propagation primitive a corpus pipeline
    * uses to spread sparse quality/domain annotations onto unlabeled
    * documents via embedding neighborhoods.
    *
    * Plan shape: labels ride the ONE broadcast-queries candidate pass
    * (no second scan of the candidate table), the per-query top-k is
    * the same window as the top-k baseline, and the vote is a
    * combinable count over Q×k rows — everything after the scan is
    * query-scale, not corpus-scale.
    */
  def knnClassify(queries: DataFrame, candidates: DataFrame, idCol: String,
                  vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = candidates.select(col(idCol).as("neighbor_id"),
      col(labelCol).as("_lbl"), col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", round(
        cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val votes = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .groupBy(col("query_id"), col("_lbl"))
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy(col("query_id"))
      .orderBy(col("votes").desc, col("_lbl").asc)
    votes.withColumn("_rn", row_number().over(wv))
      .filter(col("_rn") === 1)
      .select(col("query_id"), col("_lbl").as("pred_label"), col("votes"))
  }

  /** Deterministic random hyperplanes: `numPlanes` × `dim` in [-1, 1),
    * fixed seed — same planes on every run and every executor.
    */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] = {
    val rng = new scala.util.Random(seed)
    Array.fill(numPlanes, dim)(rng.nextDouble() * 2 - 1)
  }

  /** Sign-bit LSH signature of `vec` against `planes`, packed into a long:
    * ONE codegen'd pass unpacks the vector once and folds every plane dot
    * ([[graft.functions.Kernels.hyperplaneSig]]). The per-plane Column form
    * below is the equivalence-tested spec (it re-unpacked the vector once
    * per plane — 64 unpacks/row for the near-dup signature).
    */
  def lshSignature(vec: Column, planes: Array[Array[Double]]): Column =
    graft.functions.Kernels.hyperplaneSig(vec, planes)

  /** Expanded twin of [[lshSignature]] (equivalence spec; same float
    * casts, same left-to-right double accumulation, same `> 0` rule).
    */
  def lshSignatureExpanded(vec: Column, planes: Array[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val plane = array(p.map(v => lit(v.toFloat)): _*)
      when(dot(vec, plane) > 0.0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** Vector dimensionality: explicit `dim` when given (no extra job —
    * what the registered queries do), else inferred from the first row
    * with a descriptive error on an empty frame.
    */
  private def inferDim(df: DataFrame, vecCol: String, dim: Int,
                       op: String): Int =
    if (dim > 0) dim
    else df.select(size(col(vecCol))).head(1) match {
      case Array(r) => r.getInt(0)
      case _ => throw new IllegalArgumentException(
        s"$op: cannot infer vector dimensionality from an empty frame; " +
          "pass dim explicitly")
    }

  /** LSH-bucketed approximate top-k: candidates are vectors sharing at
    * least one signature band with the query (catches near-identical sign
    * patterns), re-ranked by exact cosine. Recall < 1 by construction;
    * bands/planes trade recall vs candidate volume.
    *
    * Only `(id, band, key)` flows through the candidate-generation
    * stages; vectors and norms are joined back by id for the few
    * surviving candidates (the [[graft.dedup.Dedup.minhashLsh]]
    * pattern) — the alternative rides each vector through the
    * candidate-dedup shuffle once per matching band. The candidate id
    * set is small (≲ bucket size × queries), so AQE turns the verify
    * joins into broadcasts at runtime.
    *
    * `dim` ≤ 0 (the default) derives the dimensionality from the first
    * candidate vector (one extra tiny job — pass `dim` to skip it);
    * rows of any OTHER length then fail fast with a runtime error
    * instead of silently degrading signature quality (the dot kernel
    * would truncate to the shorter length).
    *
    * PRECONDITION: `idCol` must be unique within each input frame. The
    * candidate pairs are deduplicated as bare id pairs and vectors
    * re-join BY ID afterwards (the payload-free shuffle discipline), so
    * a duplicated id would fan each deduplicated pair back out into one
    * scored row per duplicate — the same (query_id, neighbor_id) could
    * then occupy several top-k ranks.
    */
  def lshTopK(queries: DataFrame, candidates: DataFrame, idCol: String,
              vecCol: String, k: Int, numPlanes: Int = 16, bands: Int = 4,
              dim: Int = -1): DataFrame = {
    val d = inferDim(candidates, vecCol, dim, "lshTopK")
    val planes = hyperplanes(numPlanes, d)
    val bits = numPlanes / bands
    def checked = when(size(col(vecCol)) === d, col(vecCol))
      .otherwise(raise_error(concat(
        lit(s"lshTopK: expected $d-dim vectors, got length "),
        size(col(vecCol)).cast("string"))))
    // ids + band keys only — no vector payload past this projection
    def banded(df0: DataFrame, id: String) =
      graft.util.Par.spread(df0)
        .select(col(idCol).as(id), lshSignature(checked, planes).as("sig"))
        .select(col(id),
          posexplode(array((0 until bands).map { b =>
            shiftright(col("sig"), b * bits)
              .bitwiseAND((1L << bits) - 1)
          }: _*)).as(Seq("band", "key")))
    val qb = banded(queries, "query_id")
    val cb = banded(candidates, "neighbor_id")
    val cand = cb.join(broadcast(qb), Seq("band", "key"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"))
      .dropDuplicates("query_id", "neighbor_id")
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val cv = candidates.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
    val scored = cand
      .join(cv, "neighbor_id")
      .join(broadcast(qv), "query_id")
      .withColumn("sim", round(
        cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("sim"), col("rank"))
  }

  /** Banded (LSH-bucketed) near-duplicate pairs — the registered scale
    * path. Candidates are pairs sharing at least one signature band: an
    * EQUI-join on the small `(band, key)` columns, never a nested-loop
    * pair scan, so candidate volume per row is ~bucket size instead of n.
    * Every candidate is then verified by exact cosine ≥ threshold, so
    * false candidates never corrupt output — the only approximation is
    * missed pairs (recall), governed by planes/bands and measured on the
    * planted near-dups in SimilaritySpec.
    *
    * The DuckDB oracle reproduces the SAME banded semantics — the plane
    * matrix is embedded literally in the generated SQL (see the
    * embedding rows in graft.registry.SimopsRows) — so the driver hash-checks this operator
    * exactly even though it is approximate vs. the exact all-pairs
    * scan.
    *
    * PRECONDITION: `idCol` must be unique — candidate pairs dedup as
    * bare id pairs before vectors re-join by id (see [[lshTopK]]); a
    * duplicated id would emit one output row per duplicate pairing.
    *
    * SCALE LAW (round-7 100× anchor): random-pair candidates per band
    * are ~n²/2^bits, so band width must GROW with the corpus —
    * `bits ≳ log₂(n)` keeps candidate volume linear. At 8-bit keys a
    * 200k-vector corpus pays n²/2⁸ ≈ 6×10⁸ verifies (measured 388s);
    * at 16-bit keys the same corpus pays ~10⁶ (measured 2.9s). With
    * the one-long 64-plane signature, `bands × bits = 64`: prefer
    * fewer, wider bands as n grows (recall on true near-dups at
    * cos ≈ 1 stays ≥99.8% with 4×16 — it is the S-curve midpoint that
    * moves, which is what a near-DUP threshold wants). The verify
    * threshold must also sit in the near-dup regime for the OUTPUT to
    * stay linear: in 64 dims, cos ≥ 0.4 is a ~3σ event random pairs
    * pass in quadratic numbers; 0.9+ is duplicate territory.
    */
  def nearDupPairsBanded(df: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, numPlanes: Int = 64,
                         bands: Int = 8, dim: Int = -1): DataFrame = {
    val d = inferDim(df, vecCol, dim, "nearDupPairsBanded")
    val planes = hyperplanes(numPlanes, d)
    val bits = numPlanes / bands
    // only (id, band, key) rides the band self-join — the corpus used to
    // cross this shuffle `bands` times WITH its vector and norm; vectors
    // now re-join by id for the surviving candidate pairs only (the
    // minhashLsh payload discipline)
    val banded = graft.util.Par.spread(df)
      .select(col(idCol).as("id"),
        lshSignature(col(vecCol), planes).as("sig"))
      .select(col("id"),
        posexplode_outer(array((0 until bands).map { b =>
          shiftright(col("sig"), b * bits).bitwiseAND((1L << bits) - 1)
        }: _*)).as(Seq("band", "key")))
    val a = banded.select(col("band"), col("key"), col("id").as("id_a"))
    val b = banded.select(col("band"), col("key"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecs = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      norm(col(vecCol)).as("n"))
    pairs
      .join(vecs.select(col("id").as("id_a"), col("v").as("va"),
        col("n").as("na")), "id_a")
      .join(vecs.select(col("id").as("id_b"), col("v").as("vb"),
        col("n").as("nb")), "id_b")
      .withColumn("sim", round(
        cosinePre(dot(col("va"), col("vb")), col("na"), col("nb")), 4))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), col("sim"))
  }

  /** The near-dup DAILY-INGEST decision for the embedding modality —
    * the vector twin of [[graft.dedup.Dedup.minhashIncremental]]: for
    * each incoming vector, is it a cosine near-dup (≥ `threshold`) of
    * something already in the corpus, and of what?
    *
    * Scale shape (the corpus NEVER shuffles):
    *  - only the increment's banded signature frame is checkpointed and
    *    broadcast — O(increment × bands) rows of (band, key);
    *  - the corpus streams map-side through a broadcast join on those
    *    band keys; its banded projection carries ids only, no vectors;
    *  - surviving candidate ids broadcast back against the corpus scan
    *    to fetch ONLY candidate vectors for the exact-cosine verify, so
    *    false candidates never corrupt output and full vectors move for
    *    candidates alone. Bucket fan-out is bounded by the 2^(planes/
    *    bands) key space per band — widen `numPlanes` to thin buckets.
    *
    * Output: one row per incoming vector — (id, dup_of: best-matching
    * corpus id or null, sim of that match or null, is_new). "Best"
    * breaks ties deterministically: highest cosine, then lowest corpus
    * id. Within-batch near-dups are out of scope by design — run
    * [[nearDupPairsBanded]] over the (small) increment for those.
    *
    * PRECONDITION: `idCol` unique within each frame (the [[lshTopK]]
    * payload-free-pairs contract).
    */
  def nearDupIncremental(incoming: DataFrame, corpus: DataFrame,
                         idCol: String, vecCol: String, threshold: Double,
                         numPlanes: Int = 64, bands: Int = 8,
                         dim: Int = -1): DataFrame = {
    val d = inferDim(corpus, vecCol, dim, "nearDupIncremental")
    val planes = hyperplanes(numPlanes, d)
    val bits = numPlanes / bands
    def banded(df0: DataFrame, id: String) =
      graft.util.Par.spread(df0)
        .select(col(idCol).as(id), lshSignature(col(vecCol), planes).as("sig"))
        .select(col(id),
          posexplode(array((0 until bands).map { b =>
            shiftright(col("sig"), b * bits).bitwiseAND((1L << bits) - 1)
          }: _*)).as(Seq("band", "key")))
    // the increment's banded frame forks three ways (key set, pair
    // attach, output doc list) — checkpoint once, the
    // minhashIncremental convention
    val incB = banded(incoming, "inc_id").localCheckpoint()
    val incKeys = incB.select(col("band"), col("key")).distinct()
    // the probe: corpus streams through a broadcast join on the
    // increment's band keys — no corpus shuffle, ids-only payload
    val pairs = banded(corpus, "dup_id")
      .join(broadcast(incKeys), Seq("band", "key"))
      .join(broadcast(incB), Seq("band", "key"))
      .filter(col("inc_id") =!= col("dup_id"))
      .select(col("inc_id"), col("dup_id"))
      .dropDuplicates("inc_id", "dup_id")
    // verify payloads: candidate ids broadcast back against the corpus
    // scan (again no corpus shuffle); increment vectors broadcast whole
    val candIds = pairs.select(col("dup_id")).distinct()
    val corV = corpus.select(col(idCol).as("dup_id"), col(vecCol).as("cv"),
        norm(col(vecCol)).as("cn"))
      .join(broadcast(candIds), "dup_id")
    val incV = incoming.select(col(idCol).as("inc_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val verified = pairs
      .join(corV, "dup_id")
      .join(broadcast(incV), "inc_id")
      .withColumn("sim", round(
        cosinePre(dot(col("qv"), col("cv")), col("qn"), col("cn")), 4))
      .filter(col("sim") >= threshold)
    val w = Window.partitionBy(col("inc_id"))
      .orderBy(col("sim").desc, col("dup_id").asc)
    val best = verified
      .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
      .select(col("inc_id"), col("dup_id").as("dup_of"), col("sim"))
    incoming.select(col(idCol).as("inc_id"))
      .join(broadcast(best), Seq("inc_id"), "left")
      .select(col("inc_id").as(idCol), col("dup_of"), col("sim"),
        col("dup_of").isNull.as("is_new"))
  }
}
