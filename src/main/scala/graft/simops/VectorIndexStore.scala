package graft.simops

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The persisted ANN SERVING index — hierarchical IVF centroid forest,
  * PQ codebooks, and every corpus vector's (list assignment, packed PQ
  * codes), written once at corpus-ingest time. The last store family
  * the 100 TB contract needed: [[Embed.ivfPqTopK]] (the in-DAG form
  * kept beside this one) re-fits both indexes AND re-encodes the
  * ENTIRE candidate corpus to PQ codes inside the query DAG — correct,
  * but the whole point of PQ at scale is that the compressed codes ARE
  * the stored index. A daily/online query batch should pay query-side
  * encode + ADC over STORED codes only: O(queries · nprobe ·
  * listSize), never O(corpus). The exact bar the media family cleared
  * for decode ([[graft.dedup.MediaStore]]) applied to the vector
  * modality.
  *
  * SCALE-TRUE GEOMETRY (r15): the list count is not a constant someone
  * forgot to retune at 100 TB — it derives from the corpus's own
  * count through [[Embed.autoNlist]] (nlist = ⌈n/targetListSize⌉, the
  * `dedup_semantic` contract), and the index is the TWO-LEVEL
  * centroid forest ([[Ivf.fitHier]]: C = ⌈√nlist⌉ coarse cells × up
  * to S = ⌈nlist/C⌉ sub-centroids), so per-row assignment stays
  * O(√nlist·dim) while each list holds ~targetListSize vectors. Past
  * [[Ivf.ForestLiteralMaxLists]] the build dispatches to the
  * relational forest ([[Ivf.fitHierR]]/[[Ivf.assignHierR]]) exactly
  * as the semantic family does — same float kernels, same tiebreaks,
  * bit-identical stores (pinned in EmbedStoreSpec).
  *
  * Layout (columnar parquet under `dir/`):
  *  - `coarse/`    — (coarse_id, centroid): the C fitted coarse
  *    centroids. O(√nlist·dim) index metadata — the only part of the
  *    forest a probe collects to the driver.
  *  - `subs/`      — (coarse_id, sub_id, centroid): the sub-centroid
  *    forest. O(nlist·dim) — stays a relation end to end (probes join
  *    it, never collect it), so the 2²⁰-list clamp region needs no
  *    driver state.
  *  - `codebooks/` — (m, code, centroid): the fitted per-subspace PQ
  *    codebooks (original code ids — Lloyd-emptied cells keep the
  *    survivors' ids, the [[Embed.fitBooks]] convention). O(m·k·subDim).
  *  - `codes/`     — (vec_id, list_id, codes) PARTITIONED BY
  *    `part_id = list_id mod min(nlist, MaxCodeParts)`: each corpus
  *    vector's m-int code array, laid out so a probe's nprobe-list
  *    join prunes the scan to the probed buckets (dynamic partition
  *    pruning over the broadcast query side — the plan-fenced scan
  *    reads ≤ nprobe/MaxCodeParts of the stored codes, never the
  *    store; fenced in PlanAuditSpec) while the directory count stays
  *    bounded at any corpus size (see [[MaxCodeParts]]).
  *  - `meta/`      — one row (m, k, residual, s, p): the code-budget
  *    constants plus the forest's sub stride (global list id =
  *    coarse_id · s + sub_id) and the partition cap.
  *
  * [[appendWrite]] closes the daily loop under the FROZEN index (the
  * [[SemanticStore]] frozen-forest convention): new vectors assign to
  * the stored forest and encode under the stored codebooks —
  * O(increment) work, no refit, no rewrite; their code files land in
  * the matching list partitions and queries retrieve them the moment
  * the append lands. [[compact]] heals double-appended retries,
  * preserving the partitioned layout.
  */
object VectorIndexStore {

  /** The driver-resident index half: coarse centroids + PQ codebooks —
    * O(√nlist·dim + m·k·subDim), index metadata, never O(rows) and
    * never O(nlist) (the sub forest stays relational in [[Store]]).
    */
  final case class Index(coarse: Seq[(Int, Seq[Double])], s: Int,
                         codes: Array[Array[Int]],
                         books: Array[Array[Array[Double]]],
                         m: Int, k: Int, residual: Boolean,
                         p: Int)

  /** Partition-count cap for the `codes/` layout: the partition key is
    * `part_id = list_id mod min(nlist, MaxCodeParts)`, so the
    * directory count is bounded no matter how large the autoNlist
    * geometry grows (2²⁰ one-list-per-dir directories would sink any
    * filesystem's listing path — measured 10× probe inflation at a
    * 6 250-dir local layout), while the probe's DPP join still prunes
    * the scan to its `nprobe` buckets — ≤ nprobe/MaxCodeParts of the
    * stored codes. Below the cap every list keeps its own partition
    * (full pruning, the fixture geometries).
    */
  val MaxCodeParts: Int = 256

  private def partIdCol(listId: Column, p: Int): Column =
    pmod(listId, lit(p)).cast("int")

  /** `index` plus the two relational halves: the sub-centroid forest
    * (O(nlist) rows) and the corpus-sized code frame (vec_id, list_id,
    * codes).
    */
  final case class Store(index: Index, subs: DataFrame, coded: DataFrame)

  private def coarseMapCol(ix: Seq[(Int, Seq[Double])],
                           coarseId: Column): Column =
    element_at(typedlit(ix.toMap), coarseId)

  /** Fit + assign + encode the corpus — the IDENTICAL kernels and
    * sample draws the semantic family runs (same seeds, same Lloyd
    * arithmetic at both forest levels, same residual projection), so
    * the DuckDB oracle replays the whole store from the corpus's own
    * count. `literalMax` is the [[Ivf.ForestLiteralMaxLists]] dispatch
    * seam (injectable so EmbedStoreSpec pins literal ≡ relational at a
    * spec-sized geometry).
    */
  def build(corpus: DataFrame, idCol: String, vecCol: String,
            targetListSize: Int = 32, m: Int = 8, k: Int = 16,
            iters: Int = 1, fitSamplePct: Int = 100, dim: Int = 64,
            residual: Boolean = true, knownCount: Long = -1L,
            literalMax: Int = Ivf.ForestLiteralMaxLists): Store = {
    val n = if (knownCount >= 0) knownCount
      else corpus.select(col(idCol)).count()
    val nlist = Embed.autoNlist(n, targetListSize)
    val base = graft.util.Par.spread(corpus)
      .select(col(idCol).as("vec_id"),
        col(vecCol).cast("array<double>").as("_cv"))
    // (vec_id, coarse_id, list_id, _cv, _lc = the assigned list's
    // centroid, coarse fallback for a subless cell) — literal forest
    // below the dispatch threshold (zero-shuffle codegen assignment),
    // relational broadcast-join forest past it; bit-identical either
    // way (the assignSubR contract, pinned in IvfSpec/EmbedStoreSpec)
    val (coarse, s, subsF, assigned) =
      if (nlist <= literalMax) {
        val h = Ivf.fitHier(corpus, idCol, vecCol, nlist, iters,
          fitSamplePct, n)
        val subMap: Map[Int, Seq[Double]] =
          (for (ci <- h.subCents.indices;
                (sid, cent) <- h.subIds(ci).zip(h.subCents(ci)))
            yield (ci * h.s + sid, cent.toSeq)).toMap
        val a = base
          .withColumn("coarse_id",
            Ivf.nearestList(h.coarse, Ivf.simsCol(h.coarse, col("_cv"))))
          .withColumn("list_id", h.listIdCol(col("_cv"), col("coarse_id")))
          .withColumn("_lc", coalesce(
            element_at(typedlit(subMap), col("list_id")),
            coarseMapCol(h.coarse, col("coarse_id"))))
        (h.coarse, h.s, subsFrameOf(corpus.sparkSession, h), a)
      } else {
        val hR = Ivf.fitHierR(corpus, idCol, vecCol, nlist, iters,
          fitSamplePct, n)
        val subsSel = hR.subs
          .select(col("coarse_id"), col("sub_id"),
            col("cent").as("centroid"))
        val a = Ivf.assignHierR(corpus, idCol, vecCol, hR)
          .withColumnRenamed("_id", "vec_id")
          .withColumnRenamed("_v", "_cv")
          .join(broadcast(subsSel.withColumnRenamed("centroid", "_sc")),
            Seq("coarse_id", "sub_id"), "left")
          .withColumn("_lc", coalesce(col("_sc"),
            coarseMapCol(hR.coarse, col("coarse_id"))))
        (hR.coarse, hR.s, subsSel, a)
      }
    val enc = assigned.withColumn("_ev",
        if (residual) residualCol(col("_cv"), col("_lc")) else col("_cv"))
      .select(col("vec_id"), col("list_id").cast("int").as("list_id"),
        col("_ev"))
    // PQ codebooks fit on the encoded space — the md5-bucket sample
    // with the SAME cappedPct clamp the IVF fit (and the oracle)
    // applies, materialized once (the ivfPqTopK fitFrame discipline:
    // the seed collect and every Lloyd pass re-read this frame)
    val effPct =
      if (fitSamplePct >= 100) 100
      else graft.util.Sampling.cappedPct(n, fitSamplePct)
    val fitFrame = (if (effPct >= 100) enc
      else enc.filter(
        graft.util.Sampling.md5Bucket(col("vec_id")) < lit(effPct)))
      .select(col("vec_id"), col("_ev"))
      .localCheckpoint()
    val (codes, books) = Embed.fitBooks(fitFrame, "vec_id", "_ev", m, k,
      iters, 100, dim)
    val idx = Index(coarse, s, codes, books, m, k, residual,
      p = math.min(nlist, MaxCodeParts))
    Store(idx, subsF, encodeFrom(enc, idx))
  }

  /** `v − listCentroid` as a pure zip_with projection — the IVFADC
    * encode-space subtraction, elementwise exact doubles.
    */
  private def residualCol(v: Column, cent: Column): Column =
    zip_with(v, cent, (x, c) => x - c)

  private def encodeFrom(enc: DataFrame, idx: Index): DataFrame =
    enc.select(col("vec_id"), col("list_id"),
      partIdCol(col("list_id"), idx.p).as("part_id"),
      graft.functions.PqCodesExpr(col("_ev"), idx.codes, idx.books)
        .as("codes"))

  /** Encode a frame under the FROZEN stored index — the (vec_id,
    * list_id, codes) shape [[appendWrite]] expects. O(increment): the
    * coarse argmax rides as plan literals, the sub argmax is a
    * broadcast join against the stored forest (the
    * [[Ivf.assignHierR]] kernel — bit-identical to the literal path),
    * and the codebooks ride as literals. No refit, no corpus read.
    */
  def encode(df: DataFrame, idCol: String, vecCol: String,
             store: Store): DataFrame = {
    val ix = store.index
    val subsSel = store.subs
      .select(col("coarse_id"), col("sub_id"), col("centroid"))
    val h = Ivf.HierIndexR(ix.coarse, ix.s,
      subsSel.withColumn("cent", col("centroid")).drop("centroid")
        .withColumn("cn", Similarity.norm(col("cent"))))
    val enc = Ivf.assignHierR(df, idCol, vecCol, h)
      .withColumnRenamed("_id", "vec_id")
      .withColumnRenamed("_v", "_cv")
      .join(broadcast(subsSel.withColumnRenamed("centroid", "_sc")),
        Seq("coarse_id", "sub_id"), "left")
      .withColumn("_lc", coalesce(col("_sc"),
        coarseMapCol(ix.coarse, col("coarse_id"))))
      .withColumn("_ev",
        if (ix.residual) residualCol(col("_cv"), col("_lc"))
        else col("_cv"))
      .select(col("vec_id"), col("list_id").cast("int").as("list_id"),
        col("_ev"))
    encodeFrom(enc, ix)
  }

  def write(store: Store, dir: String): Unit = {
    val spark = store.coded.sparkSession
    centsFrame(spark, store.index.coarse).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/coarse")
    // the sub forest: one file while it is index-metadata-sized,
    // default layout in the 2^20-clamp region (~0.5 GB)
    val subsOut =
      if (store.index.coarse.size.toLong * store.index.s
          <= Ivf.ForestLiteralMaxLists) store.subs.coalesce(1)
      else store.subs
    subsOut.write.mode("overwrite").parquet(s"$dir/subs")
    booksFrame(spark, store.index).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/codebooks")
    metaFrame(spark, store.index).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/meta")
    // codes partitioned by the capped bucket key: a probe's
    // nprobe-list join prunes the scan to the probed part_id buckets
    // (≤ min(nlist, MaxCodeParts) directories at ANY corpus size);
    // the repartition keeps it to ~one file per bucket instead of
    // (tasks × buckets), and the within-partition sort on list_id
    // clusters each bucket's lists into distinct parquet row groups so
    // the probe's list_id pushdown prunes INSIDE a bucket — above the
    // MaxCodeParts clamp a bucket holds nlist/MaxCodeParts lists, and
    // without row-group locality the scan would read all of them
    store.coded.repartition(col("part_id"))
      .sortWithinPartitions(col("part_id"), col("list_id"))
      .write.mode("overwrite").partitionBy("part_id")
      .parquet(s"$dir/codes")
  }

  /** Rebuild the driver-resident index half (two bounded collects —
    * O(√nlist·dim + m·k·subDim), the same class as the fits' own
    * driver state) and reopen the relational halves.
    */
  def read(spark: SparkSession, dir: String): Store = {
    val coarse = spark.read.parquet(s"$dir/coarse").collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSeq.sortBy(_._1)
    val metaDf = spark.read.parquet(s"$dir/meta")
    // meta fields by NAME, with a versioned diagnostic: a pre-v3 store
    // (3-field meta — no forest stride, no partition cap) must fail
    // with "rebuild required", not a positional out-of-bounds error
    // (library callers have no registry store.params fence)
    val missing = Seq("s", "p").filterNot(metaDf.columns.contains)
    require(missing.isEmpty,
      s"stale VectorIndexStore layout at $dir: meta/ lacks " +
        s"${missing.mkString(", ")} (pre-v3 store — rebuild required: " +
        "delete the dir and re-run build + write)")
    val meta = metaDf.collect().head
    val (m, k, residual, s) = (meta.getAs[Int]("m"), meta.getAs[Int]("k"),
      meta.getAs[Boolean]("residual"), meta.getAs[Int]("s"))
    val bookRows = spark.read.parquet(s"$dir/codebooks").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    // per subspace: surviving original code ids SORTED, books aligned
    // by code order — exactly how Embed.fitBooks leaves them
    val byM = bookRows.groupBy(_._1)
    val codes = Array.tabulate(m)(mi =>
      byM.getOrElse(mi, Array.empty).map(_._2).sorted)
    val books = Array.tabulate(m)(mi =>
      byM.getOrElse(mi, Array.empty).sortBy(_._2).map(_._3))
    val p = meta.getAs[Int]("p")
    Store(Index(coarse, s, codes, books, m, k, residual, p),
      spark.read.parquet(s"$dir/subs"),
      spark.read.parquet(s"$dir/codes")
        .select(col("vec_id"), col("list_id"), col("part_id"),
          col("codes")))
  }

  /** Close the daily loop O(increment): the increment's frozen-index
    * code rows ([[encode]] output) land as new parquet files inside
    * their list partitions — no rewrite, no refit; the index serves
    * them on the next probe. A retried ingest that appends the same
    * vector twice is healed by [[compact]] (duplicate code rows never
    * change WHICH neighbors exist, only duplicate result rows —
    * compact on the retry cadence before serving).
    */
  def appendWrite(encoded: DataFrame, dir: String): Unit =
    // the same one-file-per-touched-bucket + sorted-row-group layout
    // contract as [[write]]: without the repartition every append
    // lands up to (tasks × MaxCodeParts) small files — a year of
    // daily ingests is 10⁵–10⁶ files per store before compaction,
    // and the listing/footer tax was already measurable at the 100×
    // anchor (2.6× probe drift on an otherwise-flat family)
    encoded.repartition(col("part_id"))
      .sortWithinPartitions(col("part_id"), col("list_id"))
      .write.mode("append").partitionBy("part_id")
      .parquet(s"$dir/codes")

  /** Dedup the code rows by vec_id and rewrite via the crash-safe
    * rename-aside protocol ([[graft.dedup.SignatureStore.compactOne]])
    * — one scan of the m-int code rows, never a corpus re-encode. The
    * rewrite keeps the list_id partitioning (the probe's pruning
    * contract survives compaction).
    */
  def compact(spark: SparkSession, dir: String): Unit =
    graft.dedup.SignatureStore.compactOne(spark, s"$dir/codes",
      Seq("vec_id"), partitionCols = Seq("part_id"),
      sortCols = Seq("list_id"))

  /** The serving-path top-k against the STORED index: the query batch
    * ranks the C coarse centroids (plan literals), takes its `nprobe`
    * nearest coarse cells, ranks those cells' sub-centroids from the
    * stored forest (a broadcast-query join against `subs/` — O(nprobe
    * · S) candidate lists per query), keeps the `nprobe` best global
    * lists, residual-projects against each probed list's centroid,
    * and ADC-scores ONLY the probed lists' stored code rows — the
    * probed (part_id, list_id) set is bounded and pushed into the
    * codes scan as LITERAL filters, so partition pruning is static
    * and row-group stats prune within each bucket (fenced in
    * PlanAuditSpec). No corpus fit, no corpus encode, no corpus
    * vector read anywhere in the timed plan.
    *
    * Output: (query_id, neighbor_id, adist, rank). A subless coarse
    * cell probes its fallback list (coarse_id·s + 0) with the coarse
    * centroid — the same convention assignment used, so every stored
    * vector is reachable.
    */
  def topK(queries: DataFrame, store: Store, idCol: String,
           vecCol: String, kNN: Int, nprobe: Int = 4): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    adcScored(probeFrame(queries, store, idCol, vecCol, nprobe), store)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        col("rank"))
  }

  /** The query batch's probed-list frame — (query_id, list_id,
    * part_id, _qe = the query's residual in the probed list's space,
    * _qv = the original query vector, kept for exact rerank):
    * coarse rank against the driver-resident centroids (plan
    * literals), sub rank from the stored forest (a broadcast-query
    * join — O(nprobe · S) candidate lists per query), top `nprobe`
    * global lists. LOCALCHECKPOINTED — bounded at queries × nprobe
    * rows — so (a) the probed list set can be collected and pushed
    * into the codes scan as LITERAL filters (static partition pruning
    * on part_id + row-group pruning on list_id — no DPP subquery, no
    * second query-batch scan), and (b) the timed ADC plan re-reads
    * nothing upstream of it.
    */
  private[graft] def probeFrame(queries: DataFrame, store: Store,
                                idCol: String, vecCol: String,
                                nprobe: Int): DataFrame = {
    val ix = store.index
    val qc = queries
      .select(col(idCol).as("query_id"),
        col(vecCol).cast("array<double>").as("_qv"))
      .withColumn("_sims", Ivf.simsCol(ix.coarse, col("_qv")))
      .withColumn("coarse_id",
        explode(Ivf.probeLists(ix.coarse, col("_sims"), nprobe)))
      .drop("_sims")
    val wl = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("_lsim").desc, col("list_id").asc)
    qc
      .join(store.subs.select(col("coarse_id"), col("sub_id"),
        col("centroid").as("_sc")), Seq("coarse_id"), "left")
      .withColumn("list_id",
        (col("coarse_id") * lit(ix.s) +
          coalesce(col("sub_id"), lit(0))).cast("int"))
      .withColumn("_lc", coalesce(col("_sc"),
        coarseMapCol(ix.coarse, col("coarse_id"))))
      .withColumn("_lsim", Similarity.cosinePre(
        graft.functions.VectorOps.dot(col("_qv"), col("_lc")),
        Similarity.norm(col("_qv")), Similarity.norm(col("_lc"))))
      .withColumn("_rn", row_number().over(wl))
      .filter(col("_rn") <= nprobe)
      .withColumn("_qe",
        if (ix.residual) residualCol(col("_qv"), col("_lc"))
        else col("_qv"))
      .select(col("query_id"), col("list_id"),
        partIdCol(col("list_id"), ix.p).as("part_id"), col("_qe"),
        col("_qv"))
      .localCheckpoint()
  }

  /** ADC-score the probed lists' stored code rows against the
    * checkpointed probe frame. The probed (part_id, list_id) set is
    * bounded (≤ queries × nprobe pairs) and already materialized, so
    * it is collected and pushed into the codes scan as LITERAL
    * filters: `part_id IN (...)` prunes partition directories
    * STATICALLY (no DPP subquery) and `list_id IN (...)` reaches
    * parquet as a pushed filter, where the sorted-within-bucket
    * layout lets row-group min/max prune INSIDE a bucket — above the
    * [[MaxCodeParts]] clamp a bucket holds nlist/MaxCodeParts lists,
    * and without the pushdown the scan would read (then the join
    * discard) all of them.
    */
  private def adcScored(qp: DataFrame, store: Store): DataFrame = {
    val ix = store.index
    val idx = Embed.codeIndex(ix.codes, ix.k)
    // above the default inFilterThreshold (10) Spark converts a
    // pushed In to a [min,max] RANGE before handing it to parquet —
    // and a probed list set is spread across the id space, so the
    // range covers nearly every row group and the within-bucket
    // pruning this layout exists for silently evaporates (measured:
    // 14 767 of 14 898 bucket rows still read at a 12 500-list
    // geometry). The probed set is bounded (queries × nprobe ints),
    // so raise the threshold past any realistic batch — parquet then
    // evaluates true set membership against row-group stats.
    qp.sparkSession.conf.set(
      "spark.sql.parquet.pushdown.inFilterThreshold", 4096)
    val probed = qp.select(col("part_id"), col("list_id")).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1)))
    val partIds = probed.map(_._1).distinct.sorted.toSeq
    val listIds = probed.map(_._2).distinct.sorted.toSeq
    val cand = store.coded
      .filter(col("part_id").isin(partIds: _*) &&
        col("list_id").isin(listIds: _*))
      .select(col("vec_id").as("neighbor_id"),
        col("list_id"), col("part_id"), col("codes").as("_codes"))
    cand.join(broadcast(qp.drop("_qv")), Seq("part_id", "list_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(graft.functions.PqAdcExpr(
        col("_qe"), col("_codes"), idx, ix.books), 6))
  }

  /** Two-stage serving retrieval — ADC shortlist, exact re-rank: run
    * the [[topK]] probe but keep the top `rerankR` (default 4·kNN)
    * ADC candidates per query, fetch THOSE candidates' original
    * vectors from `vectors` by key, and re-rank by exact cosine
    * (rounded to 4 dp with id tiebreak — the
    * [[Similarity.bruteForceTopK]] reproducibility convention).
    *
    * The quality gap this closes: ADC distance is computed against
    * quantized reconstructions, so the ADC-only probe's recall is
    * bounded by the codebook resolution; re-scoring a bounded
    * shortlist with true cosine typically recovers most of the lost
    * recall at O(queries · R) extra cost.
    *
    * Scale shape: the shortlist is bounded (queries × R rows,
    * localCheckpointed), its id set is collected (bounded ints) and
    * pushed into the `vectors` scan as a literal In(id) filter — a
    * KEYED fetch that parquet row-group stats prune, never a corpus
    * scan (fenced in PlanAuditSpec) — and both rerank joins are
    * broadcast-small. No corpus fit, encode, or vector sweep
    * anywhere.
    */
  def topKRerank(queries: DataFrame, store: Store, idCol: String,
                 vecCol: String, vectors: DataFrame, kNN: Int,
                 nprobe: Int = 4, rerankR: Int = -1): DataFrame = {
    val r = if (rerankR > 0) rerankR else 4 * kNN
    val qp = probeFrame(queries, store, idCol, vecCol, nprobe)
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    // the ADC shortlist: bounded queries × R rows, checkpointed so
    // the rerank plan's keyed fetch never re-runs the ADC stage
    val cands = adcScored(qp, store)
      .withColumn("_arn", row_number().over(wA))
      .filter(col("_arn") <= r)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint()
    val ids = cands.select(col("neighbor_id")).distinct()
      .collect().map(_.get(0))
    val fetched = vectors
      .filter(col(idCol).isin(ids: _*))
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("_nv"))
    val qv = qp.select(col("query_id"), col("_qv")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    fetched.join(broadcast(cands), Seq("neighbor_id"))
      .join(broadcast(qv), Seq("query_id"))
      .withColumn("sim", round(Similarity.cosinePre(
        graft.functions.VectorOps.dot(col("_qv"), col("_nv")),
        Similarity.norm(col("_qv")), Similarity.norm(col("_nv"))), 4))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= kNN)
      .select(col("query_id"), col("neighbor_id"), col("sim"),
        col("rank"))
  }

  private val centsSchema = StructType(Seq(
    StructField("coarse_id", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType), nullable = false)))

  private def centsFrame(spark: SparkSession,
                         cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    cents.foreach { case (lid, c) => rows.add(Row(lid, c)) }
    spark.createDataFrame(rows, centsSchema)
  }

  private val subsSchema = StructType(Seq(
    StructField("coarse_id", IntegerType, nullable = false),
    StructField("sub_id", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType), nullable = false)))

  private def subsFrameOf(spark: SparkSession,
                          h: Ivf.HierIndex): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    for (ci <- h.subCents.indices;
         (sid, cent) <- h.subIds(ci).zip(h.subCents(ci)))
      rows.add(Row(ci, sid, cent.toSeq))
    spark.createDataFrame(rows, subsSchema)
  }

  private val booksSchema = StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("code", IntegerType, nullable = false),
    StructField("centroid", ArrayType(DoubleType), nullable = false)))

  private def booksFrame(spark: SparkSession, ix: Index): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    for (mi <- 0 until ix.m; pos <- ix.codes(mi).indices)
      rows.add(Row(mi, ix.codes(mi)(pos), ix.books(mi)(pos).toSeq))
    spark.createDataFrame(rows, booksSchema)
  }

  private val metaSchema = StructType(Seq(
    StructField("m", IntegerType, nullable = false),
    StructField("k", IntegerType, nullable = false),
    StructField("residual", BooleanType, nullable = false),
    StructField("s", IntegerType, nullable = false),
    StructField("p", IntegerType, nullable = false)))

  private def metaFrame(spark: SparkSession, ix: Index): DataFrame = {
    val rows = new java.util.ArrayList[Row]()
    rows.add(Row(ix.m, ix.k, ix.residual, ix.s, ix.p))
    spark.createDataFrame(rows, metaSchema)
  }
}
