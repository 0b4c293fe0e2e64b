package graft.plans

import graft.{SparkEntry, TestSpark}
import graft.functions.{Kernel, Kernels}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, JoinStrategyHint, LogicalPlan, ResolvedHint, SHUFFLE_HASH}
import org.apache.spark.sql.execution.{LogicalRDD, QueryExecution, SparkPlan}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regressions for the registered driver queries: the shapes
  * that make them scale (broadcast dim joins, one collapsed Window pass, no
  * nested-loop pair scans, no single-partition exchanges) must survive
  * refactors. A green oracle row says the ANSWER is right; these say the
  * PLAN is still the one we'd want at 100 TB.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def opCount(p: String, op: String): Int =
    p.linesIterator.count(_.matches(s".*(\\*\\(\\d+\\) )?$op( |\\[).*"))

  /** Lines of a plan string that call `kernel`: its static call prints
    * as `static_invoke(graft.functions.<Util>.<method>(...))`.
    */
  private def kernelCalls(p: String, kernel: Kernel): Int = {
    val call = s"${kernel.util.getClass.getName.stripSuffix("$")}.${kernel.method}("
    p.linesIterator.count(_.contains(call))
  }

  /** Executed plans of the eager `localCheckpoint` jobs `build` runs. A
    * checkpointed frame is an ExistingRDD leaf in the row's own plan,
    * so its shuffles and scans are audited here, as they ran before
    * the checkpoint.
    */
  private def checkpointPlans(build: => Any): Seq[SparkPlan] = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (funcName == "localCheckpoint") { seen.add(qe.executedPlan); () }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      build
      org.apache.spark.graftbench.ListenerSync.waitUntilEmpty(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  /** The subtrees of `plan` under a join-strategy hint of `strategy`. */
  private def hinted(plan: LogicalPlan,
      strategy: JoinStrategyHint): Seq[LogicalPlan] = plan.collect {
    case h: ResolvedHint if h.hints.strategy.contains(strategy) => h.child
  }

  /** A frame built only from checkpointed rows: the verify's counted
    * candidate sliver, never a scan whose size the planner estimates.
    */
  private def fromCheckpointOnly(p: LogicalPlan): Boolean =
    p.collectLeaves().forall(_.isInstanceOf[LogicalRDD])

  test("q5_region_revenue broadcasts every dimension side") {
    assert(opCount(plan("q5_region_revenue"), "BroadcastHashJoin") >= 3)
  }

  test("lag_2d_partitioned collapses all lags into one Window pass") {
    assert(opCount(plan("lag_2d_partitioned"), "Window") == 1)
    // ewma reads its `window` lag terms through one WindowSpec: the same
    // single Window pass (the property Ewma's scaladoc cites)
    assert(opCount(plan("ewma"), "Window") == 1)
  }

  test("embedding_neardup has no nested-loop pair scan") {
    assert(!plan("embedding_neardup").contains("BroadcastNestedLoopJoin"))
  }

  test("lag_distributed has no single-partition exchange") {
    assert(!plan("lag_distributed").contains("SinglePartition"))
  }

  test("domain_filter: combinable agg + join, no window, no pair scan") {
    val p = plan("domain_filter")
    assert(opCount(p, "Window") == 0, p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("sample_ppl_buckets: bucket thresholds are a scalar agg, never a corpus window") {
    // the ONLY windowless global pass allowed is percentile_approx's
    // scalar aggregate; a global-window ntile would show as Window +
    // SinglePartition over the corpus
    val p = plan("sample_ppl_buckets")
    assert(opCount(p, "Window") == 0, p)
  }

  test("q1_pricing pushes the date filter into the parquet scan") {
    val scanLines = plan("q1_pricing").linesIterator
      .filter(_.contains("PushedFilters")).mkString
    assert(scanLines.contains("l_shipdate"), s"no pushed filter: $scanLines")
  }

  test("seq_pack's only unpartitioned window is the bucket-base frame") {
    // the data-side running sum must be a PARTITIONED window (by range
    // bucket); exactly one single-partition exchange is allowed — the
    // numBuckets-row base-offset frame
    val p = plan("seq_pack")
    assert(p.linesIterator.count(_.contains("SinglePartition")) <= 1, p)
    assert(opCount(p, "Window") >= 1)
  }

  test("corpus_shuffle keeps seq_pack's distributed prefix-sum shape") {
    // shuffle-before-pack must not regress to a global sort or an
    // unpartitioned data-side window: same bucketed two-pass shape as
    // seq_pack, with the lone single-partition exchange on the
    // numBuckets-row base frame
    val p = plan("corpus_shuffle")
    assert(p.linesIterator.count(_.contains("SinglePartition")) <= 1, p)
    assert(!p.contains("rangepartitioning"), p)
    assert(opCount(p, "Window") >= 1)
  }

  test("corpus_clean's quality gate stays fenced above the spread exchange") {
    // the gate filter is on an expensive derived column; pushdown would
    // substitute the full qualityScore expression into the scan's
    // DataFilters, and a one-split local source would then evaluate it
    // single-threaded below the spread repartition (measured 4.9s of a
    // 11.6s query at 10x sf0.1). PlanFence pins it above the exchange.
    // Audited on the exposed stage corpus_clean runs (corpusClean ->
    // cleanedNarrow, at the row's parameters): its survivors checkpoint
    // truncates lineage, so the composite plan never shows this stage.
    val docs = graft.sources.Tables.documents(spark, dir)
    val p = graft.pipeline.Pipeline
      .cleanedNarrow(docs, "doc_id", "text", "lang", 0.3,
        Map("en" -> 80, "zh" -> 50), 25)
      .queryExecution.executedPlan.toString
    assert(p.contains("planfenceexpr"), s"gate fence missing:\n$p")
    val lines = p.linesIterator.toSeq
    // the spread is the round-robin exchange; the fingerprint window's
    // hash exchange sits ABOVE the filter and proves nothing
    val spreadAt = lines.indexWhere(_.contains("RoundRobinPartitioning"))
    val filterAt = lines.indexWhere(_.contains("planfenceexpr"))
    assert(spreadAt >= 0 && filterAt >= 0 && spreadAt > filterAt,
      s"gate filter not above the spread exchange:\n$p")
    val scans = lines.filter(_.contains("DataFilters"))
    assert(scans.forall(!_.toLowerCase.contains("length")),
      s"quality expression leaked into a scan:\n${scans.mkString("\n")}")
  }

  test("corpus_clean's dedup exchange carries no text column") {
    // the fingerprint window dedups on a derived md5; the text
    // derivatives (n_tokens, quality, _fp) are computed in the scan
    // stage so the exchange moves five narrow columns, never document
    // bodies — at 100 TB the difference between shuffling ids and
    // shuffling the corpus. Audited on the exposed pre-checkpoint
    // stage (the composite's checkpoint truncates lineage).
    // AQE off so the exchanges are visible in the executed tree (same
    // convention as the neardup payload fence); only HASH exchanges are
    // audited — Par.spread's round-robin scan spread rightly carries
    // text, it IS the scan stage.
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.sources.Tables.documents(spark, dir)
      val staged = graft.pipeline.Pipeline.cleanedNarrow(
        docs, "doc_id", "text", "lang", 0.3, Map("en" -> 60), 40)
      val exchanges = staged.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("hashpartitioning") => e
      }
      assert(exchanges.nonEmpty, "expected the fingerprint dedup exchange")
      for (e <- exchanges; attr <- e.output)
        assert(attr.name != "text",
          s"dedup exchange carries the text column:\n${e.output.mkString(", ")}")
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("crawl_clean's dedup exchange carries neither html nor extracted text") {
    // the crawl composition's first stage: main-content extraction,
    // gate kernel, fingerprint, and token count all run in the SAME
    // scan-stage projection, so the exact-dedup window's hash exchange
    // moves (id, quality, n_tokens, _fp) — never the page or its
    // extracted text. Audited on the exposed pre-checkpoint stage
    // (crawlCleanNarrow; the composite's checkpoint truncates
    // lineage), AQE off so exchanges are visible, hash exchanges only
    // (the round-robin spread IS the scan stage and rightly sees html).
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = graft.sources.Tables.documents(spark, dir)
      val resp = docs.selectExpr("doc_id",
        "concat('<html><body><p>', text, '</p></body></html>') AS html")
      val staged = graft.pipeline.Pipeline.crawlCleanNarrow(
        resp, "doc_id", "html", 0.3)
      val exchanges = staged.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("hashpartitioning") => e
      }
      assert(exchanges.nonEmpty, "expected the fingerprint dedup exchange")
      for (e <- exchanges; attr <- e.output)
        assert(attr.name != "html" && attr.name != "_main",
          s"dedup exchange carries page text:\n${e.output.mkString(", ")}")
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("stl_seasonal is one exchange, two windows, no join") {
    // the seasonal mean is a whole-partition window stacked on the
    // trend window — series hash partitioning satisfies both, so the
    // decomposition is ONE scan + ONE exchange. The groupBy+join-back
    // form this fences against recomputed the entire scan→shuffle→
    // window pipeline (ReuseExchange never fired) and re-exchanged
    // every wide corpus row on (series, season) into an SMJ —
    // 3 exchanges, 2 scans, 7×/decade at the anchors (measured by a
    // probe removed after acd062c).
    val p = plan("stl_seasonal")
    assert(opCount(p, "Exchange") == 1, s"expected exactly 1 exchange:\n$p")
    assert(opCount(p, "Window") == 2, s"expected 2 window ops:\n$p")
    assert(!p.contains("Join"), s"join-back crept back in:\n$p")
    assert(opCount(p, "FileScan") + opCount(p, "Scan parquet") >= 1)
  }

  test("pii_scrub and sample_stratified stay narrow (no exchange)") {
    for (q <- Seq("pii_scrub", "sample_stratified")) {
      val p = plan(q)
      assert(!p.contains("Exchange"), s"$q shuffles:\n$p")
    }
  }

  test("embedding_neardup's band exchanges carry ids only, no vectors") {
    // at scale the band self-join is a real shuffle (broadcast planning
    // is disabled here to get that shape); its exchanges must move only
    // (id, band, key) — the vector payload re-joins by id afterwards.
    // Riding vectors through the band shuffle multiplies wire bytes by
    // `bands` at 100 TB.
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plan = SparkEntry.queries("embedding_neardup")(spark, dir)
        .queryExecution.executedPlan
      val bandExchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band") => e
      }
      assert(bandExchanges.nonEmpty, "expected a shuffled band self-join")
      for (e <- bandExchanges; attr <- e.output)
        assert(!attr.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"band exchange carries array column ${attr.name}")
    } finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("dedup_minhash band exchanges carry no shingle arrays") {
    // same payload discipline as the ANN audit: only (doc_id, band,
    // bucket) may ride the LSH shuffles; shingle arrays re-join for the
    // few candidate pairs. The candidate pairs are checkpointed (their
    // count picks the verify join's strategy), so the band-bucket join
    // runs inside the checkpoint's eager job: audit that job's plan
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plans = checkpointPlans(SparkEntry.queries("dedup_minhash")(spark, dir))
      val bandExchanges = plans.flatMap(_.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
            if e.outputPartitioning.toString.contains("band") ||
              e.outputPartitioning.toString.contains("bucket") => e
      })
      assert(bandExchanges.nonEmpty,
        s"expected a shuffled band-bucket join:\n${plans.mkString("\n")}")
      for (e <- bandExchanges; attr <- e.output)
        assert(!attr.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType],
          s"band exchange carries array column ${attr.name}")
    } finally {
      conf.set("spark.sql.adaptive.enabled", prevAqe)
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("seq_pack and lag_distributed have no range exchange (pinned boundaries)") {
    // the bucket id is a literal-boundary projection; a RangePartitioning
    // exchange reappearing means someone reintroduced repartitionByRange
    // and with it the fork-unsafe re-sampled boundaries
    for (q <- Seq("seq_pack", "lag_distributed")) {
      assert(!plan(q).contains("rangepartitioning"), s"$q range-shuffles")
    }
  }

  test("decontaminate broadcasts the probe side; corpus shingles never sort-merge") {
    // probes (the eval suite) are the tiny side by construction: both
    // the id anti-join and the hash join must be broadcasts, so corpus
    // shingles reach no join exchange — only matched (doc_id, h) rows
    // shuffle into the distinct count
    val p = plan("decontaminate")
    assert(opCount(p, "BroadcastHashJoin") >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("decontaminate bloom pre-filter sits on the corpus scan side, below the joins") {
    // the driver-built bloom literal must filter exploded corpus
    // shingles BEFORE any join probes them: in the plan tree the
    // might_contain Filter appears strictly below every join operator
    // (Catalyst pushes it to the scan-side stage, where it runs inside
    // the same codegen'd pass as the shingle explode)
    val lines = plan("decontaminate").linesIterator.toSeq
    val bloomAt = lines.indexWhere(_.contains("might_contain"))
    assert(bloomAt >= 0, "no might_contain filter in the plan")
    val lastJoinAt = lines.lastIndexWhere(_.contains("Join"))
    assert(lastJoinAt >= 0 && lastJoinAt < bloomAt,
      s"bloom filter (line $bloomAt) not below the joins (last at $lastJoinAt)")
  }

  test("narrow per-row operators stay inside whole-stage codegen") {
    // the "functions, not UDFs" contract: these single-scan projections
    // must compile into a WholeStageCodegen span with no object
    // serialization anywhere in the plan
    for (q <- Seq("text_stats", "pii_scrub", "embedding_quantize",
        "multimodal_meta", "lang_id", "quality_score")) {
      val p = plan(q)
      assert(p.contains("*("), s"$q has no WholeStageCodegen span:\n$p")
      assert(!p.contains("DeserializeToObject"), s"$q leaves codegen:\n$p")
    }
  }

  test("ngram_jaccard broadcasts only the counted candidate sliver") {
    // every corpus frame in this operator is per-document, so a
    // broadcast() hint on one of them (round 1 broadcast O(n_docs) set
    // sizes) is always a scale regression. The one broadcast allowed is
    // the verify's candidate sliver, checkpointed and COUNTED against
    // Dedup.LshVerifyBroadcastMaxPairs; past that bound the sliver
    // builds a shuffled-hash join instead. The df-cap probe's
    // shuffle_hash hint is the opposite of a broadcast: it FORBIDS one
    // off a bad estimate (the spanPairs lesson).
    val under = SparkEntry.queries("ngram_jaccard")(spark, dir)
      .queryExecution.analyzed
    val bc = hinted(under, BROADCAST)
    assert(bc.nonEmpty, s"expected the candidate-sliver broadcast:\n$under")
    assert(bc.forall(fromCheckpointOnly),
      s"broadcast hint on a frame other than the counted candidates:\n$under")
    // lowering the bound below the count takes the shuffled-hash branch
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled", "true")
    val prevBound = graft.dedup.Dedup.LshVerifyBroadcastMaxPairs
    conf.set("spark.sql.adaptive.enabled", "false")
    graft.dedup.Dedup.LshVerifyBroadcastMaxPairs = -1L
    try {
      val df = SparkEntry.queries("ngram_jaccard")(spark, dir)
      val over = df.queryExecution.analyzed
      assert(hinted(over, BROADCAST).isEmpty,
        s"broadcast hint past the bound:\n$over")
      assert(hinted(over, SHUFFLE_HASH).exists(fromCheckpointOnly),
        s"expected the candidate side's shuffle_hash hint:\n$over")
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("ShuffledHashJoin"), p)
    } finally {
      graft.dedup.Dedup.LshVerifyBroadcastMaxPairs = prevBound
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("topk_ngrams plans a distributed top-k, not a global sort") {
    val p = plan("topk_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    // the count agg combines map-side before its one shuffle
    assert(p.contains("partial_count"), p)
  }

  test("tfidf_terms: corpus size is a broadcast, no nested-loop join") {
    val p = plan("tfidf_terms")
    // the 1-row N frame rides a broadcast nested loop by NATURE (cross
    // join with one row is exactly what broadcast handles); the tf⋈df
    // join must NOT be nested-loop
    assert(opCount(p, "BroadcastNestedLoopJoin") <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("novelty_score and tfidf_terms join n-grams on 8-byte hashes, not strings") {
    // the df-side joins key on the 64-bit n-gram/term hash: fixed-width
    // shuffle keys, and a stopword-grade hot key no longer drags its
    // string payload into one reduce partition. The string survives only
    // where the output needs it (tfidf's term column). novelty's hash is
    // computed INSIDE the scan-stage kernel (Kernels.ngramXxSet). The probe
    // join is pinned ShuffledHashJoin: without the pin, the planner's
    // pre-explode estimate undersold the token-scale side and BROADCAST
    // 23M rows at the 100× anchor (the former localCheckpoint fixed the
    // estimate but leaked unevictable deserialized blocks across
    // invocations). The pin buys broadcast safety, not exchange reuse —
    // the aggregate and probe exchanges don't canonicalize equal, so
    // the scan-stage kernel recomputes per consumer by design
    val pn = plan("novelty_score")
    assert(pn.contains("ShuffledHashJoin"), pn)
    assert(pn.contains("hashpartitioning(_gh"), pn)
    // no exchange may partition on the n-gram STRING
    assert(!pn.linesIterator.exists(l =>
      l.contains("hashpartitioning(ngram")), pn)
    val pt = plan("tfidf_terms")
    assert(pt.contains("ShuffledHashJoin"), pt)
    assert(pt.contains("hashpartitioning(_th"), pt)
  }

  test("n-gram df joins stay AQE-splittable under skew (no forced broadcast)") {
    // a deliberately skewed corpus: every doc shares the same hot
    // bigram, so one join key carries half the posting rows. With
    // size-based broadcasts disabled the df joins must still plan as a
    // shuffled join (SortMergeJoin or the pinned ShuffledHashJoin —
    // BOTH shapes AQE's skew-split can rewrite) — which proves no hint
    // forces broadcasting a side that grows with the corpus, AND that
    // the df attach-back is a join at all (a window count would pin the
    // hot key's rows in one unsplittable sort partition). (tfidf's
    // single allowed broadcast is the 1-row N.)
    import spark.implicits._
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = (0 until 500).map(i => (i.toLong, s"of the w$i of the"))
        .toDF("doc_id", "text")
      val pn = graft.textops.Vocab.noveltyScore(docs, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(opCount(pn, "SortMergeJoin") + opCount(pn, "ShuffledHashJoin") >= 1, pn)
      assert(!pn.contains("BroadcastHashJoin") &&
        !pn.contains("BroadcastNestedLoopJoin"), pn)
      val pt = graft.textops.Vocab.tfidfTerms(docs, "doc_id", "text", 3)
        .queryExecution.executedPlan.toString
      assert(opCount(pt, "SortMergeJoin") + opCount(pt, "ShuffledHashJoin") >= 1, pt)
      assert(opCount(pt, "BroadcastNestedLoopJoin") <= 1, pt)
      assert(!pt.contains("CartesianProduct"), pt)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("corpus_profile is one scan into one stratum-keyed aggregate") {
    val p = plan("corpus_profile")
    // exchanges: the stratum hash agg + the distinct-lang expand path;
    // a regression that joins profile parts would add more
    assert(opCount(p, "Exchange") <= 3, p)
    assert(!p.contains("Join"), p)
  }

  /** The incremental-ingest contract: corpus-sized frames reach ONLY
    * broadcast probes as the streamed side. So every ShuffleExchange in
    * the plan must sit above a BroadcastHashJoin (its input was already
    * pruned to candidate scale by a broadcast probe) — except the
    * RoundRobin spread guard, a no-op on any at-scale source
    * (Par.spread), and shuffles whose subtree reads no file source
    * (increment-derived frames off the checkpoint RDD, batch-sized by
    * definition).
    */
  private def assertShufflesPostProbe(query: String, minProbes: Int): Unit = {
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries(query)(spark, dir)
        .queryExecution.executedPlan
      val shuffles = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(shuffles.nonEmpty, "expected candidate-stage shuffles")
      for (e <- shuffles) {
        val roundRobin = e.outputPartitioning
          .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]
        val postProbe = e.child.collect {
          case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
        }.nonEmpty
        val incrementOnly = e.child.collect {
          case f: org.apache.spark.sql.execution.FileSourceScanExec => f
        }.isEmpty
        assert(roundRobin || postProbe || incrementOnly,
          s"$query: corpus-scale shuffle (no broadcast probe beneath it):\n$e")
      }
      val p = exec.toString
      assert(opCount(p, "BroadcastHashJoin") >= minProbes, p)
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("dedup_substrings: shuffles carry gram hashes and positions, never text") {
    // the exact-substring exchange is the honest O(corpus) cost of the
    // operator (Lee et al.'s suffix array pays the same) — but it must
    // move (hash, doc, pos) triples only; the text column stays inside
    // the scan stage where the k-gram kernel consumed it
    val conf = spark.conf
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("dedup_substrings")(spark, dir)
        .queryExecution.executedPlan
      val shuffles = exec.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      val keyed = shuffles.filterNot(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning])
      assert(keyed.nonEmpty, "expected the gram-hash and run-group exchanges")
      for (e <- keyed; a <- e.output)
        assert(a.dataType != org.apache.spark.sql.types.StringType &&
          a.name != "text",
          s"text-typed column ${a.name} crosses a keyed shuffle:\n$e")
    } finally conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("semanticDedup pair join stays AQE-splittable under a one-hot-list skew") {
    // a degenerate corpus where k-means puts EVERY vector in one list —
    // the worst skew the within-list join can see. With size-based
    // broadcasts disabled it must still plan as SortMergeJoin keyed on
    // list_id (the shape AQE's skew-split can rewrite), proving no hint
    // forces broadcasting a side that grows with the corpus and no
    // cartesian fallback sneaks in via the vec_id inequality.
    import spark.implicits._
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val rng = new scala.util.Random(3)
      val vecs = (0 until 256).map { i =>
        (i.toLong, Seq.fill(8)(0.9f + rng.nextFloat() * 0.1f)) }
        .toDF("vec_id", "embedding")
      val p = graft.simops.Embed.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.99, nlist = 8, iters = 1)
        .queryExecution.executedPlan.toString
      assert(opCount(p, "SortMergeJoin") >= 1, p)
      assert(!p.contains("BroadcastHashJoin") &&
        !p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("dedup_minhash_incremental: every shuffle is post-probe (corpus never shuffles)") {
    // probes: band-key probe, candidate-id shingle probe, and the
    // increment-side verify/base joins
    assertShufflesPostProbe("dedup_minhash_incremental", minProbes = 3)
  }

  test("dedup_minhash_probe: timed pass reads the store, never re-signs the corpus") {
    // the probe row's claim is "daily ingest pays O(increment)": the
    // corpus's signatures and shingle hashes must come from the
    // persisted SignatureStore parquet, and the ONLY MinHash signing in
    // the plan is the increment's. A regression that silently re-signs
    // the corpus (store ignored, frames rebuilt) would keep the answer
    // identical — only this plan fence catches it.
    val p = plan("dedup_minhash_probe") // first call builds the store
    val storePath = "stores/sf0.001/minhash"
    // the shingle_hashes scan streams in the timed plan; the SIGNATURES
    // scan runs inside the candidate-pairs checkpoint's eager job since
    // r17 (pairs is candidate-bounded; its three lazy forks each
    // replayed the banded-store probe), so the banded side appears as
    // an ExistingRDD leaf here — the store is still the only corpus
    // source either way
    assert(p.linesIterator.exists(l => l.contains(storePath) &&
      l.contains("shingle_hashes")),
      s"expected the shingle_hashes store parquet scan:\n$p")
    assert(p.contains("ExistingRDD"),
      s"expected the checkpointed candidate-pairs leaf:\n$p")
    // the checkpoint jobs behind those leaves, as they ran: exactly one
    // signs (the increment, from its documents scan); the others probe
    // the SIGNATURES store parquet and read no document text
    val ckpts = checkpointPlans(SparkEntry.queries("dedup_minhash_probe")(spark, dir))
      .map(_.toString)
    val (signing, probing) =
      ckpts.partition(c => kernelCalls(c, Kernels.MinhashSig) > 0)
    assert(signing.size == 1, s"expected one increment-signing job:\n$ckpts")
    assert(probing.exists(c => c.linesIterator.exists(l =>
      l.contains(storePath) && l.contains("signatures"))),
      s"expected the banded probe of the signatures store:\n$ckpts")
    for (c <- probing)
      assert(!c.contains("documents.parquet"),
        s"document scan in a candidate checkpoint:\n$c")
    // ZERO signing kernels in the timed plan: the increment signs once
    // inside its checkpoint's eager job (plan forks would otherwise
    // re-run Kernels.minhashSig per branch), and the corpus's hashes are
    // store COLUMNS — any minhash_sig call here means corpus re-signing
    // or a lost checkpoint, either way a probe-cost regression.
    assert(kernelCalls(p, Kernels.MinhashSig) == 0,
      s"signature kernel in the timed probe plan:\n$p")
    // the one xx hash pass allowed is the increment verify attach
    // (expression display may span Project + Exchange lines)
    assert(kernelCalls(p, Kernels.XxSortedHashes) <= 2,
      s"corpus shingle-hash recompute detected:\n$p")
    // and no corpus text scan: the increment's is checkpoint-truncated,
    // so documents.parquet must not appear anywhere in the timed plan
    assert(!p.contains("documents.parquet"),
      s"corpus/document text scan in the probe plan:\n$p")
  }

  test("dedup_spans_probe: timed pass reads the span store, never re-winnows the corpus") {
    // same contract for the passage-level probe: corpus fingerprints
    // (and their denormalized df) come from span_fps parquet; the only
    // winnowing kernel in the plan is the increment's
    val p = plan("dedup_spans_probe")
    assert(p.linesIterator.exists(l => l.contains("stores/sf0.001/spans")),
      s"expected the span_fps store parquet scan:\n$p")
    assert(kernelCalls(p, Kernels.WinnowFps) <= 1,
      s"corpus re-winnowing detected:\n$p")
    // the only allowed documents scan is the increment's id-list base
    // frame — column-pruned to doc_id, never reading text
    p.linesIterator.filter(l => l.contains("documents.parquet") &&
        l.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text"), s"document text read in probe plan: $l")
    }
  }

  test("dedup_spans_probe_updated: timed plan reads base+deltas, no store rewrite, no corpus re-winnow") {
    // the delta-append probe's claim: a daily ingest between
    // compactions pays O(increment) winnowing + store SCANS — never a
    // store rewrite (no exchange writes parquet here; writes happen
    // once at setup) and never a corpus text re-winnow
    val p = plan("dedup_spans_probe_updated")
    assert(p.linesIterator.exists(_.contains("stores/sf0.001/spans")),
      s"expected span store parquet scans:\n$p")
    // the delta side is checkpoint-truncated (scanned once in the
    // eager checkpoint job): it appears as an ExistingRDD leaf in the
    // union's delta branch, never as a repeated parquet re-scan
    assert(p.linesIterator.exists(l => l.contains("ExistingRDD") ||
      l.contains("span_deltas")), s"expected the delta branch:\n$p")
    // the only winnow kernel is the increment's (checkpoint-truncated,
    // so in practice zero appear in the timed plan)
    assert(kernelCalls(p, Kernels.WinnowFps) <= 1,
      s"corpus re-winnowing detected:\n$p")
    // no documents text scan: base + deltas carry everything
    p.linesIterator.filter(l => l.contains("documents.parquet") &&
        l.contains("ReadSchema")).foreach { l =>
      assert(!l.contains("text"), s"document text read in probe plan: $l")
    }
  }

  test("media probe rows: timed pass reads the fingerprint store, " +
      "never decodes corpus payloads") {
    // the MediaStore rows' claim is the strongest of the store family:
    // at deployment scale the corpus DECODE dominates everything, so
    // the timed plan must contain the store's parquet scan and ZERO
    // decode kernels — the increment's decode runs once inside its
    // checkpoint's eager job and enters the plan as an ExistingRDD
    // leaf. Any MapPartitions (the codec contract's physical node)
    // or documents scan here means the corpus is being re-decoded.
    for ((name, fam) <- Seq(
        "image_neardup_probe" -> "media_image",
        "video_neardup_probe" -> "media_video",
        "audio_neardup_probe" -> "media_audio",
        "image_neardup_probe_updated" -> "media_image",
        "video_neardup_probe_updated" -> "media_video",
        "audio_neardup_probe_updated" -> "media_audio")) {
      val p = plan(name) // first call builds the store (bench warmup)
      assert(p.contains(s"stores/sf0.001/$fam"),
        s"$name: expected the $fam store parquet scan:\n$p")
      assert(!p.contains("MapPartitions"),
        s"$name: media decode kernel in the timed plan:\n$p")
      assert(!p.contains("documents.parquet"),
        s"$name: corpus/document scan in the timed probe plan:\n$p")
    }
  }

  test("similarity_ivfpq_probe rows: ADC over stored codes, no corpus " +
      "re-encode, no corpus vector read") {
    // the serving-index rows' claim (the vector-modality analogue of
    // the media fence): the timed plan scans the persisted code frame
    // and ADC-scores it — the PQ ENCODE kernel must not appear
    // anywhere (queries are never PQ-encoded, only residual-projected;
    // the corpus was encoded once at store-build time), and the only
    // embeddings read is the pushed-filter query-batch scan
    for ((name, fam) <- Seq(
        "similarity_ivfpq_probe" -> "vecindex",
        "similarity_ivfpq_probe_updated" -> "vecindex_ab")) {
      val p = plan(name) // first call builds the store (bench warmup)
      assert(p.contains(s"stores/sf0.001/$fam"),
        s"$name: expected the $fam code store parquet scan:\n$p")
      assert(kernelCalls(p, Kernels.PqAdc) > 0,
        s"$name: expected the ADC scorer in the plan:\n$p")
      assert(kernelCalls(p, Kernels.PqCodes) == 0,
        s"$name: corpus PQ re-encode kernel in the timed plan:\n$p")
      // the query-batch probe frame is localCheckpointed (bounded:
      // queries × nprobe rows), so the timed ADC plan reads
      // embeddings ZERO times — ANY embeddings scan here means
      // corpus vectors leaked back into the serving path (this is
      // the strict form of the old <=2 DPP-subquery allowance: with
      // static pruning there is no subquery copy to excuse)
      assert(p.linesIterator.count(l => l.contains("embeddings.parquet")
          && l.contains("ReadSchema")) == 0,
        s"$name: embeddings scan in the timed serving plan:\n$p")
      // the scale-true layout contract: the probed (part_id, list_id)
      // set is bounded and collected before the scan, so the codes
      // scan must carry LITERAL pruning filters — a STATIC partition
      // filter on part_id (directory pruning without a DPP subquery)
      // and a pushed In(list_id) parquet filter, which the
      // sorted-within-bucket layout turns into row-group pruning
      // INSIDE each bucket (the nlist/MaxCodeParts amplification fix
      // for the clamp region). Without them the probe scans the whole
      // code store per query batch — linear in corpus, the r14
      // verdict's scale-killer.
      assert(p.contains("PartitionFilters: [part_id"),
        s"$name: codes scan not statically pruned to probed buckets:\n$p")
      assert(p.contains("PushedFilters: [In(list_id"),
        s"$name: probed list set not pushed to the codes scan:\n$p")
    }
  }

  test("similarity_ivfpq_probe_rerank: keyed vector fetch only, " +
      "never a corpus sweep") {
    // the two-stage row's timed plan is the rerank join over the
    // CHECKPOINTED ADC shortlist: the only embeddings scan allowed is
    // the candidate fetch, and it must carry the literal In(vec_id)
    // pushdown — a bounded keyed read that parquet row-group stats
    // prune. A second scan, or a scan without the In filter, means
    // the rerank is sweeping corpus vectors.
    val p = plan("similarity_ivfpq_probe_rerank")
    assert(p.linesIterator.count(l => l.contains("embeddings.parquet")
        && l.contains("ReadSchema")) == 1,
      s"rerank must fetch vectors in exactly one keyed scan:\n$p")
    assert(p.contains("PushedFilters: [In(vec_id"),
      s"candidate fetch must push the shortlist ids:\n$p")
    assert(kernelCalls(p, Kernels.PqCodes) == 0,
      s"corpus PQ re-encode kernel in the timed plan:\n$p")
  }

  test("pair probe rows: both persisted stores scanned, no corpus " +
      "text sign, no corpus decode (all modalities)") {
    // the increment's signing and media decode run once inside their
    // checkpoints' eager jobs (ExistingRDD leaves); the timed plan must
    // contain NO decode kernel and NO documents scan at all — both
    // corpus sides come entirely from the stores
    for ((name, fam) <- Seq(
        "pair_neardup_probe" -> "media_image",
        "pair_neardup_audio_probe" -> "media_audio",
        "pair_neardup_video_probe" -> "media_video")) {
      val p = plan(name)
      assert(p.contains("stores/sf0.001/minhash"),
        s"$name: expected the signature store scan:\n$p")
      assert(p.contains(s"stores/sf0.001/$fam"),
        s"$name: expected the media fingerprint store scan:\n$p")
      assert(!p.contains("MapPartitions"),
        s"$name: media decode kernel in the timed plan:\n$p")
      assert(!p.contains("documents.parquet"),
        s"$name: corpus/document scan in the timed pair-probe plan:\n$p")
    }
  }

  test("pair _updated rows: layered stores scanned, no corpus decode, " +
      "accepted-layer text signing bounded (all modalities)") {
    // every increment kernel (B signing, A+B decodes) and the
    // accepted-A layer's signature frames ride checkpoints
    // (ExistingRDD leaves — increment-sized fingerprint rows, never
    // text), so the timed plan reads documents ZERO times, exactly
    // like the base probe rows
    for ((name, fam) <- Seq(
        "pair_neardup_probe_updated" -> "media_image",
        "pair_neardup_audio_probe_updated" -> "media_audio",
        "pair_neardup_video_probe_updated" -> "media_video")) {
      val p = plan(name)
      assert(p.contains("stores/sf0.001/minhash"),
        s"$name: expected the signature store scan:\n$p")
      assert(p.contains(s"stores/sf0.001/$fam"),
        s"$name: expected the media fingerprint store scan:\n$p")
      assert(!p.contains("MapPartitions"),
        s"$name: media decode kernel in the timed plan:\n$p")
      assert(!p.contains("documents.parquet"),
        s"$name: corpus/document scan in the timed layered-pair plan:\n$p")
    }
  }

  test("dedup_bloom_probe rows: sketch prefilter on the increment side, " +
      "store scan instead of corpus text") {
    for (name <- Seq("dedup_bloom_probe", "dedup_bloom_probe_updated")) {
      val p = plan(name)
      assert(p.toLowerCase.contains("bloomcontains"),
        s"$name: no map-side sketch prefilter in the plan:\n$p")
      assert(p.contains("stores/sf0.001/bloom"),
        s"$name: expected the fingerprint store parquet scan:\n$p")
      // the increment fans out to three scans (batch-keep feeds the
      // sketch candidate AND the attach join, plus the output frame);
      // a FOURTH documents scan means the corpus text is being read —
      // the direct dedup_incremental plan has exactly that extra scan
      assert(p.linesIterator.count(l => l.contains("documents.parquet")
          && l.contains("ReadSchema")) <= 3,
        s"$name: corpus text scan in the probe plan:\n$p")
    }
  }

  test("dedup_lines_bloom_probe: line-hash store scan, sketch on the " +
      "increment owners, no corpus re-explode") {
    val p = plan("dedup_lines_bloom_probe")
    assert(p.toLowerCase.contains("bloomcontains"),
      s"no map-side sketch prefilter in the plan:\n$p")
    assert(p.contains("stores/sf0.001/bloom_lines"),
      s"expected the line-hash store parquet scan:\n$p")
    // the increment fans out to three scans (the packed-owner agg
    // feeds both the store probe and the kept-position join, plus the
    // rebuild frame); a FOURTH means the corpus is being re-exploded
    assert(p.linesIterator.count(l => l.contains("documents.parquet")
        && l.contains("ReadSchema")) <= 3,
      s"corpus text scan (re-explode) in the probe plan:\n$p")
  }

  test("sql_q17_small_qty: correlated subquery decorrelates to aggregate + join") {
    // Catalyst must rewrite the per-part scalar subquery into one
    // threshold aggregate joined back — never a per-row re-execution
    // (which would surface as a nested-loop join over the big side)
    val exec = SparkEntry.queries("sql_q17_small_qty")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!exec.contains("BroadcastNestedLoopJoin") &&
      !exec.contains("CartesianProduct"), exec)
    // the decorrelated threshold: a partkey-keyed aggregate feeding a
    // hash join, plus the final global aggregate
    assert(exec.linesIterator.count(_.contains("HashAggregate(keys=[l_partkey")) >= 1, exec)
    assert(exec.linesIterator.count(_.contains("HashAggregate")) >= 2, exec)
  }

  test("dedup_spans_incremental: every shuffle is post-probe (corpus never shuffles)") {
    // probes: fp-key probe on the corpus fingerprint stream, increment
    // fp attach, best-match left join
    assertShufflesPostProbe("dedup_spans_incremental", minProbes = 3)
  }

  test("embedding_neardup_incremental: every shuffle is post-probe (corpus never shuffles)") {
    // probes: band-key probe, increment band attach, candidate-id
    // vector probe, increment vector attach, best-match left join
    assertShufflesPostProbe("embedding_neardup_incremental", minProbes = 3)
  }

  test("ingest_clean: the composed daily pipeline keeps the no-corpus-shuffle contract") {
    // the composite runs the gate + BOTH incremental checks; its exact
    // leg adds two more broadcast probes on top of the near leg's three
    assertShufflesPostProbe("ingest_clean", minProbes = 5)
  }

  test("dedup_spans: every fp join is a pinned shuffled join, no broadcast of a data-sized side") {
    val p = plan("dedup_spans")
    // the SHUFFLE_HASH pins (prune probe + self-join) mean no side can
    // be broadcast off the underselling pre-explode estimate (the r6
    // bimodal 9s→18s bug). The pin buys broadcast safety, not exchange
    // reuse — the df aggregate's and the probe's exchanges don't
    // canonicalize equal (partial HashAggregate vs raw kernel
    // projection), so the winnow kernel recomputes per consumer: the
    // deliberate trade vs serving GBs of unevictable checkpoint blocks
    // (the 100×-anchor MemoryStore-leak lesson)
    assert(opCount(p, "ShuffledHashJoin") >= 2, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("BroadcastHashJoin"), p)
    assert(p.contains("hashpartitioning(fp"), p)
  }

  test("embedding_pq encode is a pure projection: no data-keyed exchange") {
    val p = plan("embedding_pq")
    // Par.spread's RoundRobin fan-out of the tiny single-file test source
    // is expected (it no-ops at scale); what must NEVER appear is a
    // hash/range exchange — the encode has no key to shuffle on
    assert(!p.contains("Exchange hashpartitioning") &&
      !p.contains("Exchange rangepartitioning") &&
      !p.contains("Exchange SinglePartition"), p)
    assert(kernelCalls(p, Kernels.PqCodes) > 0, p)
  }

  test("novelty_score: combinable aggregates only, no sort, no cartesian") {
    val p = plan("novelty_score")
    assert(!p.contains("Sort "), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count"), p)
  }

  test("similarity_ivfpq: probe join on list_id, codes not vectors in the scan side") {
    val p = plan("similarity_ivfpq")
    assert(!p.contains("CartesianProduct"), p)
    // candidate side carries (neighbor_id, list_id, codes); the full
    // vector column must be pruned away after the assignment/encode
    // projection — no _cv survives into the join operator
    val joinLine = p.linesIterator.find(_.contains("BroadcastHashJoin"))
    assert(joinLine.isDefined, p)
    assert(kernelCalls(p, Kernels.PqCodes) > 0, p)
  }

  test("q_window_stats: the data-sized rank window is re-keyed on (type, bucket)") {
    // the direct ntile window kept ONE task per event type alive at any
    // corpus size; the re-keyed form must sort the corpus partitioned
    // on (event_type, _b) — the bare-event_type window that remains
    // runs over the groups×buckets counts frame only
    val p = plan("q_window_stats")
    assert("hashpartitioning\\(event_type#\\d+, _b#\\d+".r
      .findFirstIn(p).isDefined, p)
    assert(p.contains("percentile_approx"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("dedup_semantic: pairs join keyed on list_id, no cartesian scan") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("list_id"), p)
    // centroid assignment is a projection: no exchange between the scan
    // and the first join input other than the list_id clustering itself
    assert(!p.contains("Exchange rangepartitioning"), p)
    // the autoNlist contract rides the two-level kernel: both the
    // coarse argmax and the within-cell sub argmax must be pure
    // projections in the plan (no per-vector join against a centroid
    // relation — that would re-shuffle the corpus as nlist grows)
    assert(kernelCalls(p, Kernels.SubNearest) > 0, p)
  }

  test("dedup_semantic_incremental: the corpus never shuffles on list keys") {
    // hammingIncremental shape for the semantic modality: corpus
    // assignment is a pure projection, the increment broadcasts into
    // the within-list candidate join, and the only keyed exchanges are
    // post-probe (the best-match window on inc_id partitions the
    // MATCHED slice, not the corpus)
    val p = plan("dedup_semantic_incremental")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(kernelCalls(p, Kernels.SubNearest) > 0, p)
    assert(!p.toLowerCase.contains("hashpartitioning(list_id"),
      s"corpus-sized exchange keyed on list_id:\n$p")
    assert(opCount(p, "BroadcastHashJoin") >= 1, p)
  }

  test("no registered query plans a quadratic unbounded-following window frame") {
    // Spark evaluates aggregate frames that START mid-partition and END
    // at unboundedFollowing (UnboundedFollowingWindowFunctionFrame) by
    // recomputing per row — O(partition^2). asof_join_forward shipped
    // one and stalled for HOURS on the 10x anchor's 200k-row keys the
    // first time the full surface ran at scale (fixed round 6 via the
    // reversed-order running-last form). This fence keeps the whole
    // registered surface on incremental frames forever. Whole-partition
    // frames (unboundedPreceding..unboundedFollowing — the bare
    // count().over(partitionBy) shape) compute ONCE per partition and
    // are fine; only a non-unbounded lower bound paired with an
    // unboundedfollowing upper bound is quadratic. (Planning only —
    // nothing executes.)
    val quadratic =
      """specifiedwindowframe\([^,]+, ([^,]+), unboundedfollowing""".r
    val offenders = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap {
      name =>
        val p = try graft.SparkEntry.queries(name)(spark, dir)
          .queryExecution.executedPlan.toString.toLowerCase
        catch { case e: Throwable => s"planning_failed: ${e.getMessage}" }
        if (p.contains("planning_failed"))
          Some(s"$name -> $p")
        else quadratic.findAllMatchIn(p)
          .find(!_.group(1).contains("unboundedpreceding"))
          .map(m => s"$name -> quadratic frame: ${m.matched}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("quality_model_score: only the vocab table is hint-broadcast; the doc attach-back shuffles") {
    // the weight table is vocabulary-bounded (limit 2000) — its
    // broadcast hint is legitimate at any corpus size. The final
    // attach-back joins two DOC-sized frames and must NOT be
    // hint-forced (round 9 shipped it broadcast(scored) — every
    // executor would materialize the whole corpus's aggregate).
    // With size-based broadcasts off, exactly the hinted join stays
    // broadcast and the doc-keyed join plans shuffled.
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("quality_model_score")
      assert(opCount(p, "BroadcastHashJoin") == 1, p)
      assert(opCount(p, "SortMergeJoin") + opCount(p, "ShuffledHashJoin") >= 1, p)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"), p)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }
}
