package graft.streaming

import graft.TestSpark
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  /** The ingest-probe shape: every micro-batch of `feed` is decided by
    * a batch operator against the stores as they stand at that trigger
    * (`decide` re-reads them), and the decision rows go to `sink`,
    * which compacts accepted rows back into the stores. The stream
    * keeps no state of its own; the stores are the state.
    */
  private def probe(feed: DataFrame)(decide: DataFrame => DataFrame)(
      sink: (DataFrame, Long) => Unit) =
    feed.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      sink(decide(b), id)
    }

  /** (media_id, fingerprint) rows of the decodable media. */
  private def fingerprints(features: DataFrame, fpCol: String) =
    features.filter(col("decodable")).select(col("media_id"), col(fpCol))

  test("ingestProbe: micro-batched stored probe equals the batch decision") {
    import spark.implicits._
    val passage = "copied paragraph with enough characters to fingerprint well"
    val corpus = Seq(
      (1L, s"alpha beta gamma $passage delta epsilon"),
      (2L, "unrelated corpus text about spark physical plans entirely"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, s"totally other words around $passage zeta eta"),
      (11L, "genuinely fresh prose sharing no passage with anything stored"),
      (12L, s"a third increment doc also carrying $passage inside it"))
      .toDF("doc_id", "text")
    val storeDir = java.nio.file.Files
      .createTempDirectory("ingest_store").toString
    graft.dedup.SignatureStore.writeSpans(
      graft.dedup.SignatureStore.buildSpans(corpus, "doc_id", "text"),
      storeDir)
    val store = graft.dedup.SignatureStore.readSpans(spark, storeDir)
    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val batch = canon(graft.dedup.Dedup.spanIncrementalStored(
      incoming, store, "doc_id", "text").collect())
    // stream the increment one FILE per trigger — three docs across two
    // files, so the probe runs across multiple micro-batches
    val feedDir = java.nio.file.Files
      .createTempDirectory("ingest_feed").toString
    incoming.repartition(2).write.mode("overwrite").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(graft.dedup.Dedup.spanIncrementalStored(_, store,
        "doc_id", "text")) { (df, _) =>
      out.synchronized { out ++= df.collect(); batches += 1 }
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    assert(canon(out.toArray) == batch)
  }

  test("ingestCleanProbe: compacting multi-batch stream equals batch ingestClean") {
    import spark.implicits._
    val passage = "the quick brown fox jumps over the lazy dog in the morning sun"
    // corpus: one real doc (near-dup target) + one unrelated doc
    val corpusRows = Seq(
      (1L, s"$passage and then it was gone into the quiet woods again"),
      (2L, "an unrelated corpus document about catalyst physical plans and shuffles"))
    // increment, id-ascending across the two micro-batches:
    //  b1: 10 fresh, 11 junk (gate-rejected), 12 exact-dup of corpus 1
    //  b2: 20 exact-dup of ACCEPTED 10 (cross-batch exact group,
    //      min-id in the earlier batch), 21 fresh
    val fresh10 = "this is a genuinely new piece of text with plenty of the usual small words in it"
    val b1 = Seq(
      (10L, fresh10),
      (11L, "!!! ??? ;;; ::: !!!"),
      (12L, s"$passage and then it was gone into the quiet woods again"))
    val b2 = Seq(
      (20L, fresh10),
      (21L, "another genuinely fresh document that is not similar to any of the others at all"))
    val increment = (b1 ++ b2).toDF("doc_id", "text")

    val corpusDir = java.nio.file.Files.createTempDirectory("ic_corpus").toString
    corpusRows.toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    val minQ = 0.3

    def canon(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2),
        r.getBoolean(3), r.getBoolean(4))).sortBy(_._1).toSeq
    val batchDecision = canon(graft.pipeline.Pipeline.ingestClean(
      increment, spark.read.parquet(corpusDir), "doc_id", "text", minQ)
      .collect())
    // sanity: the fixture exercises every leg of the composite decision
    assert(batchDecision.map(d => d._1 -> d._5).toMap ==
      Map(10L -> true, 11L -> false, 12L -> false, 20L -> false, 21L -> true))

    // feed: two files with strictly ordered mtimes so the file source
    // triggers them as two id-ordered micro-batches
    val feedDir = java.nio.file.Files.createTempDirectory("ic_feed").toString
    b1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)

    val out = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(graft.pipeline.Pipeline.ingestClean(_,
        spark.read.parquet(corpusDir), "doc_id", "text", minQ)) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      // compaction: accepted survivors join the corpus before the next
      // trigger (the thunk re-reads the path) — arrival-order-wins
      val acceptedIds = rows.filter(_.getBoolean(4)).map(_.getLong(0))
      if (acceptedIds.nonEmpty)
        increment.filter(col("doc_id").isin(acceptedIds: _*))
          .write.mode("append").parquet(corpusDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val streamDecision = canon(out.toArray)
    // the ACCEPT decision (and the gate) agree exactly — note doc 20's
    // accept correctness REQUIRES compaction: without it the stream
    // would wrongly accept the cross-batch copy of accepted doc 10
    assert(streamDecision.map(d => (d._1, d._2, d._5)) ==
      batchDecision.map(d => (d._1, d._2, d._5)))
    // the is_new flags may only diverge in the documented direction:
    // the compacting stream is strictly STRICTER (catches cross-batch
    // intra-increment dups the batch min-id rule does not flag as
    // corpus hits), never looser
    streamDecision.zip(batchDecision).foreach { case (s, b) =>
      assert(!s._3 || b._3, s"stream looser than batch on exact: $s vs $b")
      assert(!s._4 || b._4, s"stream looser than batch on near: $s vs $b")
    }
    // and on docs with no cross-batch duplicate (all but 20) the rows
    // are bit-identical
    assert(streamDecision.filter(_._1 != 20L) ==
      batchDecision.filter(_._1 != 20L))
  }

  test("lineIngestProbe: cross-batch line catch requires compaction; batch parity") {
    import spark.implicits._
    val corpusDir = java.nio.file.Files
      .createTempDirectory("line_store").toString
    Seq((1L, "banner line\ncorpus one"), (2L, "corpus two"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(corpusDir)
    // b1: doc 10 loses the corpus-owned banner, keeps "fresh ten";
    // compaction appends its CLEANED text to the corpus. b2: doc 20
    // repeats "fresh ten" — it must drop via the COMPACTED store only
    // (the cross-micro-batch catch), while "fresh twenty" survives.
    val b1 = Seq((10L, "fresh ten\nbanner line")).toDF("doc_id", "text")
    val b2 = Seq((20L, "fresh ten\nfresh twenty")).toDF("doc_id", "text")
    val feedDir = java.nio.file.Files
      .createTempDirectory("line_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(graft.textops.LineDedup.dedupLinesIncremental(_,
        spark.read.parquet(corpusDir), "doc_id", "text")) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      // compaction: the cleaned accepted docs join the corpus before
      // the next trigger — arrival-order-wins
      val cleaned = rows.filter(_.getLong(2) > 0)
        .map(r => (r.getLong(0), r.getString(3)))
      if (cleaned.nonEmpty)
        cleaned.toSeq.toDF("doc_id", "text")
          .write.mode("append").parquet(corpusDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(10L) == (2L, 1L, "fresh ten"), s"got: $got")
    assert(got(20L) == (2L, 1L, "fresh twenty"), s"got: $got")
    // batch parity on the no-cross-batch prefix: b1's stream decision
    // equals the batch operator against the original corpus
    val batchB1 = graft.textops.LineDedup.dedupLinesIncremental(
        b1, spark.read.parquet(corpusDir).filter(col("doc_id") < 10),
        "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(batchB1(10L) == got(10L))
  }

  test("bloomIngestProbe: cross-batch exact duplicate requires the " +
      "appendWrite compaction; batch parity") {
    import spark.implicits._
    import graft.dedup.{BloomStore, Dedup}
    val sd = java.nio.file.Files.createTempDirectory("bloom_stream").toString
    val corpus = Seq((1L, "corpus one"), (2L, "corpus two"))
      .toDF("doc_id", "text")
    val (st0, meta0) = BloomStore.build(corpus, "doc_id", "text")
    BloomStore.write(st0, meta0, sd)
    // b1: doc 10 fresh (accepted), doc 11 = corpus dup (rejected).
    // b2: doc 20 duplicates ACCEPTED doc 10 — caught only through the
    // between-trigger appendWrite (the cross-micro-batch case); doc 21
    // fresh.
    val b1 = Seq((10L, "fresh alpha"), (11L, "Corpus  ONE"))
      .toDF("doc_id", "text")
    val b2 = Seq((20L, "Fresh  ALPHA"), (21L, "fresh beta"))
      .toDF("doc_id", "text")
    val feedDir = java.nio.file.Files
      .createTempDirectory("bloom_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(Dedup.exactIncrementalBloom(_,
        BloomStore.read(spark, sd)._1, "doc_id", "text")) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      // compaction: accepted fingerprints append to the persisted
      // store (parquet append + sketch merge) before the next trigger
      val accepted = rows.filter(_.getBoolean(2)).map(_.getString(1))
      if (accepted.nonEmpty) {
        val (st, m) = BloomStore.read(spark, sd)
        BloomStore.appendWrite(
          accepted.toSeq.toDF("fingerprint"), st, m, sd)
      }
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(got == Map(10L -> true, 11L -> false,
      20L -> false, 21L -> true), s"got: $got")
    // batch parity on the no-cross-batch prefix: b1's stream decision
    // equals the batch bloom probe against the original store — which
    // equals the direct in-memory incremental
    val batchB1 = Dedup.exactIncremental(b1, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(batchB1 == Map(10L -> true, 11L -> false))
  }

  test("vectorServeIngestProbe: a query retrieves a vector ingested in " +
      "an earlier micro-batch; batch parity") {
    import spark.implicits._
    import graft.simops.VectorIndexStore
    val rng = new scala.util.Random(19)
    def vec() = Seq.fill(16)(rng.nextFloat() * 2 - 1)
    val corpus = (0L until 60L).map(i => (i, vec()))
      .toDF("vec_id", "embedding")
    val sd = java.nio.file.Files.createTempDirectory("vec_stream").toString
    VectorIndexStore.write(VectorIndexStore.build(corpus, "vec_id",
      "embedding", targetListSize = 16, m = 4, k = 8, iters = 1,
      fitSamplePct = 100, dim = 16), sd)
    // b1: a fresh vector 500 (served against the corpus, then
    // ingested under the frozen index); b2: vector 900 = EXACT COPY of
    // 500 — its rank-1 neighbor must be 500, which exists only through
    // the between-trigger appendWrite (the cross-micro-batch case)
    val v500 = vec()
    val b1 = Seq((500L, v500)).toDF("vec_id", "embedding")
    val b2 = Seq((900L, v500)).toDF("vec_id", "embedding")
    val feedDir = java.nio.file.Files
      .createTempDirectory("vec_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Int)]
    var batches = 0
    val q = probe(stream)(VectorIndexStore.topK(_,
        VectorIndexStore.read(spark, sd), "vec_id", "embedding", kNN = 3,
        nprobe = 4)) {
      (df, _) =>
        out.synchronized {
          out ++= df.collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getInt(3)))
          batches += 1
        }
        // compaction: the batch's vectors encode under the FROZEN
        // index and append before the next trigger
        val st = VectorIndexStore.read(spark, sd)
        val ids = out.synchronized { out.map(_._1).toSet }
        VectorIndexStore.appendWrite(VectorIndexStore.encode(
          spark.read.parquet(feedDir)
            .filter(col("vec_id").isin(ids.toSeq: _*)),
          "vec_id", "embedding", st), sd)
        VectorIndexStore.compact(spark, sd) // retries heal; idempotent
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val top900 = out.find(r => r._1 == 900L && r._3 == 1)
    assert(top900.exists(_._2 == 500L),
      s"cross-batch serve: 900's rank-1 must be the ingested 500: $out")
    // batch parity on the no-cross-batch prefix: b1's stream result
    // equals the batch topK against the original store
    val full = VectorIndexStore.read(spark, sd)
    val expect = VectorIndexStore.topK(b1,
        full.copy(coded = full.coded.filter(col("vec_id") < 100)),
        "vec_id", "embedding", kNN = 3, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    assert(out.filter(_._1 == 500L).toSet == expect)
  }

  test("audioIngestProbe: compacting stream catches a cross-batch planted twin; batch parity") {
    import spark.implicits._
    val M = graft.multimodal.Multimodal
    val storeDir = java.nio.file.Files
      .createTempDirectory("aud_store").toString
    // same planted structure as the image twin test: corpus {1,2,62},
    // b1 = fresh clip 65 (accepted), b2 = twins of {62, 65} — twin(65)
    // is caught only through the between-trigger store append
    val corpusWavs = M.syntheticWavsNearDup(
      Seq(1L, 2L, 62L).toDF("doc_id"), "doc_id", twins = false)
    def sig(df: org.apache.spark.sql.DataFrame) =
      M.audioFingerprintFeatures(df).filter(col("decodable"))
        .select(col("media_id"), col("afp"))
    sig(corpusWavs).write.mode("overwrite").parquet(storeDir)
    val b1 = M.syntheticWavsNearDup(Seq(65L).toDF("doc_id"), "doc_id",
      twins = false)
    val b2 = M.syntheticWavsNearDup(Seq(62L, 65L).toDF("doc_id"),
      "doc_id", base = false)
    val feedDir = java.nio.file.Files
      .createTempDirectory("aud_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(b => graft.dedup.Dedup.hammingIncremental(
        fingerprints(graft.multimodal.Multimodal.audioFingerprintFeatures(b),
          "afp"), spark.read.parquet(storeDir), "media_id", "afp")) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      val accepted = rows.filter(_.getBoolean(3)).map(_.getLong(0))
      if (accepted.nonEmpty)
        sig(spark.read.parquet(feedDir)
            .filter(col("media_id").isin(accepted: _*)))
          .write.mode("append").parquet(storeDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3))).toMap
    assert(got(65L) == (-1L, true), s"got: $got")
    assert(got(10000062L) == (62L, false), s"got: $got")
    assert(got(10000065L) == (65L, false), s"got: $got")
    val batchB1 = graft.dedup.Dedup.hammingIncremental(sig(b1),
        sig(corpusWavs), "media_id", "afp").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3))).toMap
    assert(batchB1(65L) == got(65L))
  }

  test("imageIngestProbe: compacting stream catches a cross-batch planted twin; batch parity") {
    import spark.implicits._
    val M = graft.multimodal.Multimodal
    val storeDir = java.nio.file.Files
      .createTempDirectory("img_store").toString
    // corpus = {1, 2, 62}, fingerprinted at "ingest time" and
    // persisted as the (media_id, dhash) store. Increment, two
    // micro-batches: b1 = fresh base image 65 (must be accepted);
    // b2 = {twin(62), twin(65)} — twin(62) hits the ORIGINAL corpus,
    // twin(65) hits only the COMPACTED store (the cross-batch catch
    // that requires the accepted-fingerprint append between
    // triggers). 62 and 65 are the bucket<5 ids the twin generator
    // perturbs.
    val corpusImgs2 = M.syntheticImagesNearDup(
      Seq(1L, 2L, 62L).toDF("doc_id"), "doc_id", twins = false)
    M.dhashFeatures(corpusImgs2).filter(col("decodable"))
      .select(col("media_id"), col("dhash"))
      .write.mode("overwrite").parquet(storeDir)
    // md5Bucket: 62 < 5 and 65 < 5 must BOTH hold for twins to exist
    val buckets = Seq(62L, 65L).toDF("doc_id")
      .select(graft.util.Sampling.md5Bucket(col("doc_id")))
      .collect().map(_.getLong(0))
    assert(buckets.forall(_ < 5), s"fixture ids must carry twins: ${buckets.toSeq}")
    val b1 = M.syntheticImagesNearDup(Seq(65L).toDF("doc_id"), "doc_id",
      twins = false)
    val b2 = M.syntheticImagesNearDup(Seq(62L, 65L).toDF("doc_id"),
      "doc_id", base = false) // the perturbed twins (ids + 10^7)
    val feedDir = java.nio.file.Files
      .createTempDirectory("img_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(b => graft.dedup.Dedup.hammingIncremental(
        fingerprints(graft.multimodal.Multimodal.dhashFeatures(b), "dhash"),
        spark.read.parquet(storeDir), "media_id", "dhash")) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      // compaction: accepted fingerprints join the store before the
      // next trigger — arrival-order-wins
      val accepted = rows.filter(_.getBoolean(3)).map(_.getLong(0))
      if (accepted.nonEmpty)
        M.dhashFeatures(spark.read.parquet(feedDir)
            .filter(col("media_id").isin(accepted: _*)))
          .filter(col("decodable"))
          .select(col("media_id"), col("dhash"))
          .write.mode("append").parquet(storeDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3))).toMap
    // b1: 65 is fresh -> accepted
    assert(got(65L) == (-1L, true), s"got: $got")
    // b2: twin of corpus image 62 hits the original store
    assert(got(10000062L) == (62L, false), s"got: $got")
    // b2: twin of ACCEPTED image 65 hits only the compacted store —
    // the cross-micro-batch catch that requires compaction
    assert(got(10000065L) == (65L, false), s"got: $got")
    // batch parity on the no-cross-batch prefix: batch 1's decision
    // equals the batch operator against the original store
    val batchB1 = graft.dedup.Dedup.hammingIncremental(
        M.dhashFeatures(b1).filter(col("decodable"))
          .select(col("media_id"), col("dhash")),
        M.dhashFeatures(corpusImgs2).filter(col("decodable"))
          .select(col("media_id"), col("dhash")),
        "media_id", "dhash").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3))).toMap
    assert(batchB1(65L) == got(65L))
  }

  test("pairIngestProbe: compacting stream catches a cross-batch paired " +
      "twin on BOTH modalities; one-side match survives") {
    import spark.implicits._
    val M = graft.multimodal.Multimodal
    // id-unique captions: every 3-token shingle carries an id-bearing
    // token, so distinct pairs share zero shingles; twin captions are
    // EXACT copies (the affine-minhash convention — a suffix twin can
    // lose all 16 signature slots to one added shingle)
    def caption(id: Long) = s"pair caption $id with tokens " +
      s"alpha$id bravo$id charlie$id delta$id echo$id"
    def pairFeed(ids: Seq[Long], capOf: Long => Long,
                 twinImgs: Boolean): org.apache.spark.sql.DataFrame = {
      val texts = ids.map(i => (if (twinImgs) i + 10000000L else i,
        caption(capOf(i)))).toDF("doc_id", "text")
      val imgs = M.syntheticImagesNearDup(ids.toDF("doc_id"), "doc_id",
        base = !twinImgs, twins = twinImgs)
        .withColumnRenamed("media_id", "doc_id")
      texts.join(imgs, "doc_id")
    }
    // corpus = pairs {1, 2, 62}: caption signatures persisted as the
    // SignatureStore, image fingerprints as the media store
    val corpusTexts = Seq(1L, 2L, 62L).map(i => (i, caption(i)))
      .toDF("doc_id", "text")
    val textSd = java.nio.file.Files
      .createTempDirectory("pair_text_store").toString
    graft.dedup.SignatureStore.write(graft.dedup.SignatureStore.build(
      corpusTexts, "doc_id", "text", shingleSize = 3, bands = 8,
      rowsPerBand = 2), textSd)
    val mediaSd = java.nio.file.Files
      .createTempDirectory("pair_media_store").toString
    M.dhashFeatures(M.syntheticImagesNearDup(
        Seq(1L, 2L, 62L).toDF("doc_id"), "doc_id", twins = false))
      .filter(col("decodable")).select(col("media_id"), col("dhash"))
      .write.mode("overwrite").parquet(mediaSd)
    // b1 = fresh pair 65 (must be accepted and compacted into BOTH
    // stores); b2 = twin pairs of {62, 65} (copied caption + perturbed
    // image) plus pair 66: caption copied from 62 but a FRESH image —
    // the one-side-match case that must SURVIVE under the pair rule
    val b1 = pairFeed(Seq(65L), identity, twinImgs = false)
    val b2 = pairFeed(Seq(62L, 65L), identity, twinImgs = true)
      .unionByName(pairFeed(Seq(66L), _ => 62L, twinImgs = false))
    val feedDir = java.nio.file.Files
      .createTempDirectory("pair_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    def sig(batch: org.apache.spark.sql.DataFrame) =
      M.dhashFeatures(batch.select(col("doc_id").as("media_id"),
          col("content")))
        .filter(col("decodable")).select(col("media_id"), col("dhash"))
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(b => graft.dedup.Dedup.pairNearDupStored(
        b.select(col("doc_id"), col("text")),
        graft.dedup.SignatureStore.read(spark, textSd), sig(b),
        spark.read.parquet(mediaSd), "doc_id", "text", "media_id",
        "dhash")) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      // compaction: ACCEPTED pairs join BOTH stores before the next
      // trigger — arrival-order-wins on both modalities
      val accepted = rows.filter(_.getBoolean(4)).map(_.getLong(0))
      if (accepted.nonEmpty) {
        val accFeed = spark.read.parquet(feedDir)
          .filter(col("doc_id").isin(accepted: _*))
        graft.dedup.SignatureStore.appendWrite(
          graft.dedup.SignatureStore.build(
            accFeed.select(col("doc_id"), col("text")), "doc_id",
            "text", shingleSize = 3, bands = 8, rowsPerBand = 2),
          textSd)
        sig(accFeed).write.mode("append").parquet(mediaSd)
      }
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(4))).toMap
    // b1: pair 65 is fresh on both sides -> accepted
    assert(got(65L) == (-1L, true), s"got: $got")
    // b2: the twin PAIR of corpus pair 62 hits the original stores on
    // both modalities -> dropped against 62
    assert(got(10000062L) == (62L, false), s"got: $got")
    // b2: the twin PAIR of ACCEPTED pair 65 matches only the
    // compacted appends — the cross-micro-batch catch on BOTH sides
    assert(got(10000065L) == (65L, false), s"got: $got")
    // b2: pair 66 duplicates 62's caption but carries a fresh image —
    // the pair rule keeps it (either side alone is fresh signal)
    assert(got(66L) == (-1L, true), s"got: $got")
    // batch parity on the first trigger: b1's decision equals the
    // batch operator against the original stores
    val batchB1 = graft.dedup.Dedup.pairNearDupStored(
        b1.select(col("doc_id"), col("text")),
        graft.dedup.SignatureStore.Store(
          graft.dedup.SignatureStore.read(spark, textSd).banded
            .filter(col("doc_id").isin(1L, 2L, 62L)),
          graft.dedup.SignatureStore.read(spark, textSd).shingleHashes
            .filter(col("doc_id").isin(1L, 2L, 62L))),
        sig(b1),
        spark.read.parquet(mediaSd)
          .filter(col("media_id").isin(1L, 2L, 62L)),
        "doc_id", "text", "media_id", "dhash").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(4))).toMap
    assert(batchB1(65L) == got(65L))
  }

  test("videoIngestProbe: compacting stream catches a cross-batch planted twin clip") {
    import spark.implicits._
    val M = graft.multimodal.Multimodal
    val storeDir = java.nio.file.Files
      .createTempDirectory("vid_store").toString
    // corpus = {1, 2, 62}; b1 = fresh clip 65 (accepted + compacted);
    // b2 = {twin(62), twin(65)} — twin(62) hits the original store,
    // twin(65) only the compacted one (the cross-batch catch)
    val corpusClips = M.syntheticAvisNearDup(
      Seq(1L, 2L, 62L).toDF("doc_id"), "doc_id", twins = false)
    def sigOf(clips: org.apache.spark.sql.DataFrame) =
      M.videoDhashFeatures(clips, step = 2).filter(col("decodable"))
        .select(col("media_id"), col("clip_dhash"))
    sigOf(corpusClips).write.mode("overwrite").parquet(storeDir)
    val b1 = M.syntheticAvisNearDup(Seq(65L).toDF("doc_id"), "doc_id",
      twins = false)
    val b2 = M.syntheticAvisNearDup(Seq(62L, 65L).toDF("doc_id"),
      "doc_id", base = false)
    val feedDir = java.nio.file.Files
      .createTempDirectory("vid_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(b => graft.dedup.Dedup.hammingIncremental(
        fingerprints(graft.multimodal.Multimodal.videoDhashFeatures(b, 2),
          "clip_dhash"), spark.read.parquet(storeDir), "media_id",
        "clip_dhash")) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      val accepted = rows.filter(_.getBoolean(3)).map(_.getLong(0))
      if (accepted.nonEmpty)
        sigOf(spark.read.parquet(feedDir)
            .filter(col("media_id").isin(accepted: _*)))
          .write.mode("append").parquet(storeDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3))).toMap
    assert(got(65L) == (-1L, true), s"got: $got")
    assert(got(10000062L) == (62L, false), s"got: $got")
    assert(got(10000065L) == (65L, false), s"got: $got")
  }

  test("embeddingIngestProbe: compacting stream catches a cross-batch planted near-copy vector") {
    import spark.implicits._
    // near-orthogonal one-hot vectors: distinct ids at cosine 0,
    // twins (id + 10^7, one extra small component) at cosine ~0.999
    def vec(pos: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == pos) 1.0f else 0.0f)
    def twin(pos: Int): Array[Float] =
      Array.tabulate(64)(j =>
        if (j == pos) 1.0f else if (j == (pos + 1) % 64) 0.05f else 0.0f)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("emb_store").toString
    Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    // b1 = fresh vector 5 (accepted + compacted);
    // b2 = twin(3) -> hits the original corpus; twin(5) -> hits only
    // the compacted store (the cross-batch catch)
    val b1 = Seq((5L, vec(5))).toDF("vec_id", "embedding")
    val b2 = Seq((10000003L, twin(3)), (10000005L, twin(5)))
      .toDF("vec_id", "embedding")
    val feedDir = java.nio.file.Files
      .createTempDirectory("emb_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(graft.simops.Similarity.nearDupIncremental(_,
        spark.read.parquet(corpusDir), "vec_id", "embedding", 0.9,
        bands = 4, dim = 64)) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      val accepted = rows.filter(_.getBoolean(3)).map(_.getLong(0))
      if (accepted.nonEmpty)
        spark.read.parquet(feedDir)
          .filter(col("vec_id").isin(accepted: _*))
          .write.mode("append").parquet(corpusDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) -1L else r.getLong(1), r.getBoolean(3))).toMap
    assert(got(5L) == (-1L, true), s"got: $got")
    assert(got(10000003L) == (3L, false), s"got: $got")
    assert(got(10000005L) == (5L, false), s"got: $got")
  }

  test("semanticIngestProbe: compacting stream catches a cross-batch planted copy") {
    import spark.implicits._
    // one-hot float vectors at cosine 0 between distinct ids; exact
    // copies (id + 10^7) at cosine 1.0 — assignment is deterministic
    // (identical input -> identical two-level argmax), so every copy
    // MUST land in its original's list and come back flagged
    def vec(pos: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == pos) 1.0f else 0.0f)
    val corpusDir = java.nio.file.Files
      .createTempDirectory("sem_store").toString
    Seq((1L, vec(1)), (2L, vec(2)), (3L, vec(3)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(corpusDir)
    // b1 = fresh vector 5 (accepted + compacted); b2 = copy(3) -> hits
    // the original corpus; copy(5) -> hits only the compacted store
    val b1 = Seq((5L, vec(5))).toDF("vec_id", "embedding")
    val b2 = Seq((10000003L, vec(3)), (10000005L, vec(5)))
      .toDF("vec_id", "embedding")
    val feedDir = java.nio.file.Files
      .createTempDirectory("sem_feed").toString
    b1.coalesce(1).write.mode("append").parquet(feedDir)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(feedDir)
    val schema = spark.read.parquet(feedDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(feedDir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.Row]
    var batches = 0
    val q = probe(stream)(graft.simops.Embed.semanticDedupIncremental(_,
        spark.read.parquet(corpusDir), "vec_id", "embedding", 0.99)) { (df, _) =>
      val rows = df.collect()
      out.synchronized { out ++= rows; batches += 1 }
      val accepted = rows.filter(_.getBoolean(4)).map(_.getLong(0))
      if (accepted.nonEmpty)
        spark.read.parquet(feedDir)
          .filter(col("vec_id").isin(accepted: _*))
          .write.mode("append").parquet(corpusDir)
    }.start()
    try q.processAllAvailable() finally q.stop()
    assert(batches >= 2, s"expected multiple micro-batches, got $batches")
    val got = out.map(r => r.getLong(0) ->
      (if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(4))).toMap
    assert(got(5L) == (-1L, true), s"got: $got")
    assert(got(10000003L) == (3L, false), s"got: $got")
    assert(got(10000005L) == (5L, false), s"got: $got")
  }

  test("windowedCounts: streaming (memory sink) equals batch on same data") {
    val batchEv = Tables.events(spark, dir)
    val batch = StreamingOps.windowedCounts(batchEv)
      .select(col("ts_hour"), col("event_type"), col("n_events"),
        round(col("total_value"), 6).as("tv"))
      .collect().map(_.toSeq).toSet

    // stream the same parquet through a file source, normalized to the
    // canonical (ts_ns, ts) pair exactly as the batch loader does
    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    val streamEv = Tables.normalizeEvents(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet")  // file source needs a dir
        .parquet(dir))
    val q = StreamingOps.windowedCounts(streamEv)
      .select(col("ts_hour"), col("event_type"), col("n_events"),
        round(col("total_value"), 6).as("tv"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("wc_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("wc_test").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup + quality gate match batch on the same feed") {
    val docs = Tables.documents(spark, dir)
      // +1: a row at exactly epoch 0 equals the query's INITIAL watermark
      // and dropDuplicatesWithinWatermark discards it as late
      .withColumn("ingest_ts",
        timestamp_micros((col("doc_id") + 1) * 1000000L))
    // gate BEFORE dedup: duplicate fingerprints can carry different raw
    // text (normalization) and so different quality — dedup-first would
    // keep an arbitrary survivor and make the kept SET nondeterministic
    // the quality gate and the content fingerprint are plain columns,
    // so one plan serves batch and stream; the stream bounds its dedup
    // state with the watermark
    def gateDedup(df: DataFrame) = {
      val fp = df.withColumn("quality",
          graft.textops.TextOps.qualityScore(col("text")))
        .filter(col("quality") >= 0.3)
        .withColumn("fingerprint", graft.textops.TextOps.fingerprint(col("text")))
      if (fp.isStreaming)
        fp.withWatermark("ingest_ts", "1 hour")
          .dropDuplicatesWithinWatermark("fingerprint")
      else fp.dropDuplicates("fingerprint")
    }
    val batchKept = gateDedup(docs)
      .select("fingerprint").collect().map(_.getString(0)).toSet

    val tmp = java.nio.file.Files
      .createTempDirectory("stream_docs").toString
    docs.write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val stream = spark.readStream.schema(schema).parquet(tmp)
    val q = gateDedup(stream)
      .select("fingerprint")
      .writeStream.outputMode("append")
      .format("memory").queryName("dd_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dd_test")
        .collect().map(_.getString(0)).toSet
      // within one watermark horizon the kept fingerprint SET is the
      // batch set (which physical row survives may differ)
      assert(streamed == batchKept)
    } finally q.stop()
  }

  test("trendingNgrams: streaming (complete mode) equals batch on same docs") {
    val docs = Tables.documents(spark, dir).withColumn("ingest_ts",
      timestamp_micros(col("doc_id") * 1000000L))
    val batch = StreamingOps.trendingNgrams(docs, "text", "ingest_ts",
        n = 2, minCount = 5)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "fixture should produce trending n-grams")

    val tmp = java.nio.file.Files
      .createTempDirectory("stream_ngrams").toString
    docs.write.mode("overwrite").parquet(tmp)
    val schema = spark.read.parquet(tmp).schema
    val stream = spark.readStream.schema(schema).parquet(tmp)
    val q = StreamingOps.trendingNgrams(stream, "text", "ingest_ts",
        n = 2, minCount = 5)
      .writeStream.outputMode("complete")
      .format("memory").queryName("tn_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tn_test").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream attribution join equals batch on the same data") {
    val ev = Tables.events(spark, dir)
    val batch = StreamingOps.attributionJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "purchase"), 30)
      .collect().map(_.toSeq).toSet
    assert(batch.nonEmpty)

    val schema = spark.read.parquet(s"$dir/events.parquet").schema
    def stream() = Tables.normalizeEvents(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val q = StreamingOps.attributionJoin(
        stream().filter(col("event_type") === "click"),
        stream().filter(col("event_type") === "purchase"), 30)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_test").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr_test").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermark drops late rows in append mode") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_stream").toString
    // batch 1: on-time events around 10:00; batch 2: a straggler from 07:00
    // — far behind the watermark (max_ts - 1h) once batch 1 is processed
    Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 1.0),
        (2L, java.sql.Timestamp.valueOf("2024-01-01 10:30:00"), 2.0))
      .toDF("event_id", "ts", "value").write.parquet(s"$tmp/b1")
    val schema = spark.read.parquet(s"$tmp/b1").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$tmp/b*")
    val agg = stream.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour")).agg(sum("value").as("v"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("late_test").start()
    try {
      q.processAllAvailable()
      Seq((3L, java.sql.Timestamp.valueOf("2024-01-01 07:00:00"), 100.0))
        .toDF("event_id", "ts", "value").write.parquet(s"$tmp/b2")
      q.processAllAvailable()
      // close the open windows so finalized results emit
      Seq((4L, java.sql.Timestamp.valueOf("2024-01-01 15:00:00"), 1.0))
        .toDF("event_id", "ts", "value").write.parquet(s"$tmp/b3")
      q.processAllAvailable()
      val vals = spark.table("late_test")
        .select(col("window.start").cast("string"), col("v"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      // the 07:00 straggler was behind the watermark → dropped, not emitted
      assert(!vals.contains("2024-01-01 07:00:00"))
      assert(vals.get("2024-01-01 10:00:00").contains(3.0))
    } finally q.stop()
  }
}
