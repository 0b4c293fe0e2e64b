package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.graftbench.{BroadcastDrain, ListenerSync}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Times registered queries in one JVM: an untimed warm-up, then two
  * timed passes over the rows, the faster pass reported per row.
  *
  * Usage: runMain graft.Bench [sfDir] [q1,q2,...]
  *   sfDir defaults to `SPARK_GRAFT_SF_DIR`, else the sf0.1 test data;
  *   the subset defaults to every registered query. Task slots are
  *   [[GraftSession.cores]].
  *
  * Prints one `SCALEBENCH {json}` line per row (seconds, result rows,
  * driver GC seconds, and the Spark jobs, eager jobs, stages, tasks and
  * shuffle bytes written by the reported pass; `tools/scalebench.py`
  * tabulates them),
  * then the full per-query contract line, then a ~200-byte summary as
  * the last line. Run it at sf0.1 and at a ScaleGen twin and the ratio
  * table shows which operators scale linearly and which are dominated
  * by fixed per-job cost.
  */
object Bench {
  /** Scored-artifact routing: ONLY the canonical sf0.1 dir (exact
    * basename — `endsWith("sf0.1")` also matched the zsf0.1 anchor
    * dir, the precise clobbering class this routing exists to close)
    * at the canonical 32-core count writes `bench.json`; an sf0.1 run
    * at any other core count (the driver's scaling pass) lands in
    * `bench_c<cpus>.json` — in r16 the c8 scaling run clobbered the
    * scored c32 artifact because routing keyed on sfDir alone. Every
    * other scale lands in `bench_adhoc.json`.
    */
  private[graft] def artifactFor(sfDir: String, cpus: String): String =
    if (new java.io.File(sfDir.stripSuffix("/")).getName == "sf0.1") {
      if (cpus == "32") "bench.json" else s"bench_c$cpus.json"
    } else "bench_adhoc.json"

  /** The stderr warning of an sf0.1 run at a core count other than the
    * canonical 32, naming the artifact it writes; None otherwise.
    */
  private[graft] def coreWarning(sfDir: String, cpus: String,
                                 out: String): Option[String] =
    Option.when(artifactFor(sfDir, cpus).startsWith("bench_c"))(
      s"[bench] warning: sf0.1 at $cpus cores, not the canonical 32: " +
        s"not comparable to bench.json; writing $out")

  /** One timed row. `rows` is -1 when the row failed; `eagerJobs` are
    * the `jobs` submitted before the builder call returned.
    */
  private[graft] final case class RowTiming(sec: Double, rows: Long,
      gcSec: Double, jobs: Int, eagerJobs: Int, stages: Int, tasks: Int,
      shuffleWriteBytes: Long) {
    def line(name: String, sfDir: String): String = {
      // per-row GC accounting: the one-JVM suite's ±30% noise is almost
      // always collector time charged to whichever row runs while the
      // heap is full of a PREDECESSOR's garbage — a flagged row needs
      // an isolated re-run (the subset arg), an unflagged row's
      // seconds are real
      val gcFlag = if (sec > 1.0 && gcSec > 0.3 * sec) ",\"gc_noisy\":true" else ""
      f"""SCALEBENCH {"query":"$name","sec":$sec%.3f,"rows":$rows,""" +
        f""""gc_sec":$gcSec%.2f,"jobs":$jobs,"eager_jobs":$eagerJobs,""" +
        f""""stages":$stages,"tasks":$tasks,""" +
        f""""shuffle_write_mb":${shuffleWriteBytes / 1048576.0}%.2f$gcFlag,"sf":"$sfDir"}"""
    }
  }

  /** Per-row Spark counters, attached only for the row's timed window.
    * Jobs are kept by submission time, so a job counts as eager by
    * perfbench's rule: submitted no later than the builder's return.
    */
  private final class RowCounters extends SparkListener {
    private val jobSubmitMs = scala.collection.mutable.ArrayBuffer.empty[Long]
    def jobTimes: Seq[Long] = synchronized(jobSubmitMs.toSeq)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shuffleWrite = new AtomicLong(0L)
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      synchronized(jobSubmitMs += js.time); ()
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(sc.stageInfo.numTasks)
      shuffleWrite.addAndGet(
        sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
      ()
    }
  }

  private def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime).sum
  }

  /** Time one registered row: the builder call AND the full drain of
    * its physical plan inside the window, so eager checkpoint and fit
    * jobs are charged to the row.
    */
  private[graft] def timeRow(spark: SparkSession, name: String,
      dir: String): RowTiming = {
    val sc = spark.sparkContext
    // drain PREVIOUS rows' suite state outside the timed window:
    // localCheckpoint blocks have no auto-unpersist hook and
    // accumulate in the one-JVM MemoryStore across the suite — by
    // the alphabetical dedup_* block they cost later rows up to 10×
    // (r9: dedup_resolve_best 121s in-suite vs 12s isolated, driver
    // gc_sec near zero — NOT collector time, block-eviction
    // pressure). Dropping leftover blocks + a full GC makes each
    // row's in-suite seconds match its isolated seconds.
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    // broadcast blocks are NOT RDDs: their cleanup rides the async
    // ContextCleaner, and after ~160 queries the accumulated blocks
    // inflated the heavy dedup rows 1.4-4x vs isolated (r9-r11
    // adjudications). Drop them synchronously so in-suite == isolated.
    try BroadcastDrain.drain(sc) catch { case NonFatal(_) => }
    System.gc()
    // earlier rows' queued events must not land on this row's counters
    ListenerSync.waitUntilEmpty(sc)
    val counters = new RowCounters
    sc.addSparkListener(counters)
    try {
      val g0 = gcMillis()
      val t0 = System.nanoTime()
      // FULL-evaluation count (round 11): Dataset.count() lets Catalyst
      // prune every column — a pure projection/window query collapses
      // to a bare scan count, so such rows timed the SCAN, not their
      // work. toRdd executes the real physical plan (all output
      // columns) and the RDD count just drains it.
      var buildEndMs = Long.MaxValue
      val n = try {
        val df = SparkEntry.queries(name)(spark, dir)
        buildEndMs = System.currentTimeMillis()
        df.queryExecution.toRdd.count()
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1L
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val gcSec = (gcMillis() - g0) / 1e3
      ListenerSync.waitUntilEmpty(sc)
      val jobMs = counters.jobTimes
      RowTiming(sec, n, gcSec, jobMs.size, jobMs.count(_ <= buildEndMs),
        counters.stages.get, counters.tasks.get, counters.shuffleWrite.get)
    } finally sc.removeSparkListener(counters)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .getOrElse(sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val all = SparkEntry.queries.keys.toSeq.sorted
    val names = args.lift(1).fold(all) { subset =>
      val keep = subset.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val unknown = keep.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
      all.filter(keep.toSet)
    }
    val cpus = GraftSession.cores
    // contended-box marker: a bench sharing the machine with sbt test
    // once clobbered the scored artifact with +28% noise — record the
    // 1-min load average at start so a contaminated run is self-labeling
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // bench.json is the SCORED artifact (solo sf0.1 at 32 cores): an
    // ad-hoc run at any other scale lands in bench_adhoc.json unless the
    // caller explicitly routes it — an sf0.01 debug run and an
    // interleaved re-run have each clobbered the scored file in past
    // rounds
    val out = sys.env.get("SPARK_GRAFT_BENCH_OUT")
      .getOrElse(artifactFor(sfDir, cpus.toString))
    coreWarning(sfDir, cpus.toString, out).foreach(System.err.println)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // untimed warmup: JIT + codegen + each input's inferred schema
    // (`Tables.parquet`), so the first timed query isn't charged for
    // session start. The doc/embedding subsets drive every hot kernel
    // family (md5 minhash, xxhash sort, hyperplane signatures, dot
    // products) past the C2 compile threshold — without it, whichever
    // heavy query runs first absorbs seconds of JIT, which showed up as
    // ±15% run-to-run totals.
    try {
      SparkEntry.queries("lag_null_fill")(spark, sfDir).count()
      val docs = graft.sources.Tables.documents(spark, sfDir).limit(600)
      graft.dedup.Dedup.minhashLsh(docs, "doc_id", "text").count()
      graft.dedup.Dedup.ngramJaccardSortedPrefix(docs, "doc_id", "text").count()
      // simhash drives kernels nothing else does (SimHashAgg + conv token
      // hashing); without this its timed row absorbed ~2.5s of JIT
      graft.dedup.Dedup.simhashPairs(docs, "doc_id", "text").count()
      graft.textops.TextOps.winnowing(docs, "doc_id", "text").count()
      val emb = graft.sources.Tables.embeddings(spark, sfDir).limit(600)
      graft.simops.Similarity.nearDupPairsBanded(
        emb, "vec_id", "embedding", 0.9, numPlanes = 64, bands = 4).count()
      // vocabulary + span + semantic families added in round 4: their
      // first use otherwise lands on whichever of them the timed loop
      // hits first (concat_ws/transform lambdas, centroid-sims kernel,
      // within-list join shapes)
      graft.textops.Vocab.topNgrams(docs, "text", n = 2, k = 10).count()
      graft.textops.Vocab.tfidfTerms(docs, "doc_id", "text", k = 2).count()
      graft.dedup.Dedup.spanPairs(docs, "doc_id", "text").count()
      graft.simops.Embed.semanticDedup(emb.limit(300), "vec_id",
        "embedding", threshold = 0.4, nlist = 4).count()
      graft.simops.Embed.pqTopK(emb.limit(20), emb.limit(300), "vec_id",
        "embedding", kNN = 3, m = 8, k = 8).count()
      // narrow per-row projection family: these queries are sub-half-
      // second, so whichever ran first in the timed loop used to absorb
      // its kernels' first-use JIT and read 2× its steady-state time
      // (r3: doc_fingerprint/quality_score doubled from ordering alone)
      for (q <- Seq("text_stats", "quality_score", "lang_id",
          "doc_fingerprint", "rep_stats", "pii_scrub",
          "embedding_quantize", "multimodal_meta"))
        SparkEntry.queries(q)(spark, sfDir).count()
    } catch { case NonFatal(_) => }
    // TWO timed passes per query, min reported (the BASELINE.md
    // convention): the generic warmup above covers the hot kernel
    // families but not each query's own composed-plan codegen, so in a
    // single pass whichever query first exercises a plan shape absorbs
    // its JIT — r4's dedup_exact read 1.63s in the suite vs 0.72s
    // warmed (plan unchanged). At larger SFs the first full-size run of
    // each heavy kernel family still absorbs multi-second C2
    // recompiles. The min of two full passes charges every query its
    // steady-state cost; the reported pass's counters ride with it.
    val first = names.map(n => n -> timeRow(spark, n, sfDir)).toMap
    val results = names.map { name =>
      val second = timeRow(spark, name, sfDir)
      val best = if (first(name).sec <= second.sec) first(name) else second
      println(best.line(name, sfDir))
      name -> best.sec
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","loadavg_start":$loadAvg}"""
    println(line)
    // also persist the full line as an artifact: the driver's log capture
    // keeps only the stdout tail, which truncated 24 per-query rows from
    // BENCH_r05 — the file is the durable copy of the same JSON
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] artifact write failed: ${e.getMessage}") }
    // compact summary as the FINAL stdout line: at 199 queries the full
    // contract line above is ~7 kB and the driver keeps only a ~2 kB
    // stdout tail, so its start (the {"metric"... prefix) was truncated
    // away and PERF had no parseable bench for two rounds. This line is
    // ~200 bytes — it always survives the tail — and names the artifact
    // that holds the full per-query map.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"sf":"$sfDir","cpus":$cpus,"loadavg_start":$loadAvg,"artifact":"$out"}"""
    println(summary)
    spark.stop()
  }
}
