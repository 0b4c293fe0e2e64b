package graft.simops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class EmbedSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def quantize(vecs: (Long, Seq[Float])*) = {
    import spark.implicits._
    Embed.quantizeInt8(vecs.toSeq.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getString(2), r.getDouble(3))).toMap
  }

  test("int8 range, exact extreme, and bounded reconstruction error") {
    val out = quantize(
      1L -> Seq(1.0f, -0.5f, 0.25f, 0.0f),
      2L -> Seq(-2.0f, 2.0f, 1.0f, -1.0f))
    val (s1, q1, rmse1) = out(1L)
    val qs1 = q1.split(",").map(_.toInt)
    assert(qs1.forall(q => q >= -127 && q <= 127))
    assert(qs1(0) == 127) // the max-magnitude element hits the rail exactly
    assert(math.abs(s1 - 1.0 / 127) < 1e-12)
    // per-element error ≤ scale/2 ⇒ rmse ≤ scale/2
    assert(rmse1 <= s1 / 2 + 1e-12)
    // ties (±63.5) round toward +∞ under floor(x + 0.5): deterministic
    // and engine-identical, which is the point
    val (s2, q2, _) = out(2L)
    assert(q2.split(",").map(_.toInt).toSeq == Seq(-127, 127, 64, -63))
    assert(math.abs(s2 - 2.0 / 127) < 1e-12)
  }

  test("zero vector quantizes to zeros with zero error") {
    val out = quantize(1L -> Seq(0.0f, 0.0f, 0.0f))
    val (_, q, rmse) = out(1L)
    assert(q == "0,0,0")
    assert(rmse == 0.0)
  }

  test("dequantized vector preserves cosine to ~1e-3 on real embeddings") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = Embed.quantizeInt8(emb, "vec_id", "embedding")
    val joined = emb.select(col("vec_id"),
        col("embedding").cast("array<double>").as("v"))
      .join(q, "vec_id")
      .withColumn("deq", transform(split(col("q_csv"), ","),
        s => s.cast("double") * col("scale")))
      .withColumn("cos", Similarity.cosine(col("v"), col("deq")))
    val minCos = joined.agg(min("cos")).head().getDouble(0)
    info(f"min cosine(original, dequantized) over corpus: $minCos%.6f")
    assert(minCos > 0.995, s"quantization distorted cosine: $minCos")
  }

  test("profile: per-label norm datasheet with exact median") {
    import spark.implicits._
    // label 0: norms 3,4,5 (3-4-5 triangles); label 1: one unit vector
    val df = Seq(
      (0, Seq(3f, 0f)), (0, Seq(0f, 4f)), (0, Seq(3f, 4f)),
      (1, Seq(1f, 0f))
    ).toDF("label", "embedding")
    val out = Embed.profile(df, "embedding", "label").collect()
      .map(r => r.getInt(0) ->
        (r.getLong(1), r.getInt(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(out(0) == (3L, 2, 4.0, 4.0))
    assert(out(1) == (1L, 2, 1.0, 1.0))
  }

  test("pqEncode: m codes per vector, exact-centroid vectors reconstruct losslessly") {
    import spark.implicits._
    // 4-dim, 2 subspaces of 2 dims; k=2 codebooks seeded by ids 1,2 —
    // with iters=0 the books ARE those subvectors, so vectors equal to
    // a seed encode with rmse 0
    val vecs = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 1.0f),
      2L -> Seq(0.0f, 1.0f, 1.0f, 0.0f),
      3L -> Seq(1.0f, 0.0f, 1.0f, 0.0f),  // sub0 of 1, sub1 of 2
      4L -> Seq(0.6f, 0.1f, 0.9f, 0.2f))  // nearest: sub0 -> seed1, sub1 -> seed2
      .toDF("vec_id", "embedding")
    val out = Embed.pqEncode(vecs, "vec_id", "embedding",
      m = 2, k = 2, iters = 0, dim = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(out(1L) == ("0,0", 0.0))
    assert(out(2L) == ("1,1", 0.0))
    assert(out(3L) == ("0,1", 0.0))
    assert(out(4L)._1 == "0,1")
    assert(out(4L)._2 > 0.0)
  }

  test("pqEncode: sampled Lloyd fit is bit-reproducible, rmse bounded on real data") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Embed.pqEncode(emb, "vec_id", "embedding", m = 8, k = 16,
      iters = 1, fitSamplePct = 60).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    val b = Embed.pqEncode(emb, "vec_id", "embedding", m = 8, k = 16,
      iters = 1, fitSamplePct = 60).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq, "PQ encode must be deterministic")
    assert(a.forall(_._2.split(",").length == 8))
    // unit-ish random vectors have per-dim magnitude ~1/8; codebook
    // reconstruction must beat the all-zeros baseline (~0.125 rms)
    val meanRmse = a.map(_._3).sum / a.length
    info(f"PQ mean rmse (m=8, k=16, 1 Lloyd pass, 60%% sample): $meanRmse%.4f")
    assert(meanRmse < 0.125, s"mean rmse $meanRmse")
  }

  test("pqTopK: ADC recall vs exact top-k on real embeddings") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(emb("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = Embed.pqTopK(q, emb, "vec_id", "embedding", kNN = 5,
      m = 8, k = 16, iters = 1, fitSamplePct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq.size == brute.size)
    val recall = pq.intersect(brute).size.toDouble / brute.size
    info(f"PQ-ADC recall@5 vs exact (m=8, k=16): $recall%.3f")
    // 32x compression trades precision; must still beat chance by far
    assert(recall >= 0.2, s"ADC recall $recall")
  }

  test("ivfPqTopK: composed pruning+compression recall, subset discipline") {
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(emb("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqAll = Embed.pqTopK(q, emb, "vec_id", "embedding", kNN = 5,
      m = 8, k = 16, iters = 1, fitSamplePct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivfpq = Embed.ivfPqTopK(q, emb, "vec_id", "embedding", kNN = 5,
      nlist = 16, nprobe = 4, m = 8, k = 16, iters = 1, fitSamplePct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rFull = pqAll.intersect(brute).size.toDouble / brute.size
    val rPruned = ivfpq.intersect(brute).size.toDouble / brute.size
    info(f"ADC recall@5: full scan $rFull%.3f, IVF-pruned (4/16 lists) $rPruned%.3f")
    // pruning 12 of 16 lists must not collapse recall to chance
    assert(rPruned >= 0.1, s"IVFPQ recall $rPruned")
  }

  test("semanticDedup: lowest id in a near-dup set survives, singletons kept") {
    import spark.implicits._
    // two tight direction groups + one lone vector; nlist=2 puts the
    // groups in separate lists, the greedy rule keeps each group's min id
    val vecs = Seq(
      1L -> Seq(1.0f, 0.0f, 0.0f, 0.0f),
      2L -> Seq(0.99f, 0.01f, 0.0f, 0.0f),   // near-dup of 1
      5L -> Seq(0.98f, -0.02f, 0.0f, 0.0f),  // near-dup of 1
      3L -> Seq(0.0f, 1.0f, 0.0f, 0.0f),
      4L -> Seq(0.0f, 0.97f, 0.05f, 0.0f))   // near-dup of 3
      .toDF("vec_id", "embedding")
    val out = Embed.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.9, nlist = 2, iters = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> true, 2L -> false, 5L -> false,
      3L -> true, 4L -> false))
  }

  test("semanticDedup: one row per vector, threshold=1+eps keeps everything distinct") {
    import spark.implicits._
    val vecs = Seq(
      1L -> Seq(1.0f, 0.0f), 2L -> Seq(0.8f, 0.6f), 3L -> Seq(0.0f, 1.0f))
      .toDF("vec_id", "embedding")
    val out = Embed.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 1.0, nlist = 1, iters = 0)
    assert(out.count() == 3)
    assert(out.filter(!org.apache.spark.sql.functions.col("kept")).count() == 0)
  }

  test("autoNlist: N/targetListSize with clamps at both ends") {
    assert(Embed.autoNlist(0) == 4)                 // empty → min clamp
    assert(Embed.autoNlist(100, 32) == 4)           // ceil(100/32)=4
    assert(Embed.autoNlist(500, 32) == 16)          // the sf0.01 fixture
    assert(Embed.autoNlist(1000, 32) == 32)
    assert(Embed.autoNlist(1001, 32) == 32)         // ceil rounds up
    assert(Embed.autoNlist(1025, 32) == 33)
    assert(Embed.autoNlist(Long.MaxValue, 32) == (1 << 20)) // max clamp
  }

  test("opqVarPermutation: valid permutation, one rank-octile dim per subspace") {
    import spark.implicits._
    val rng = new scala.util.Random(5)
    // dim 16, m 4: give dims wildly different variances so the ranking
    // is unambiguous
    val vecs = (0 until 128).map { i =>
      (i.toLong, (0 until 16).map(dd =>
        (rng.nextFloat() * 2 - 1) * (dd + 1)).toSeq) }
      .toDF("vec_id", "embedding")
    val perm = Embed.opqVarPermutation(vecs, "vec_id", "embedding",
      m = 4, dim = 16, fitSamplePct = 100)
    assert(perm.sorted == (1 to 16))
    // snake-deal: each subspace receives exactly one dim from each of
    // the four rank quartiles — variance mass is balanced by
    // construction. Variance here grows with dim index, so quartiles
    // are dim-index bands.
    val bands = (0 until 4).map(qq => ((13 - qq * 4) to (16 - qq * 4)).toSet)
    for (s <- 0 until 4) {
      val subDims = perm.slice(s * 4, s * 4 + 4).toSet
      for (b <- bands) assert(subDims.intersect(b).size == 1,
        s"subspace $s = $subDims misses a band")
    }
  }

  test("pqEncodeOpq: same schema and row count as pqEncode, permuted fit") {
    import spark.implicits._
    val rng = new scala.util.Random(9)
    val vecs = (0 until 64).map { i =>
      (i.toLong, Seq.fill(16)(rng.nextFloat() * 2 - 1)) }
      .toDF("vec_id", "embedding")
    val out = Embed.pqEncodeOpq(vecs, "vec_id", "embedding",
      m = 4, k = 8, iters = 1, fitSamplePct = 100, dim = 16)
    assert(out.columns.toSeq == Seq("vec_id", "codes_csv", "rmse"))
    assert(out.count() == 64)
    assert(out.where(org.apache.spark.sql.functions.col("rmse") < 0).count() == 0)
  }

  test("labelCentroids: per-(label, dim) mean and count, by hand") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f), 7), (2L, Seq(3.0f, 2.0f), 7),
      (3L, Seq(10.0f, -4.0f), 9))
      .toDF("vec_id", "embedding", "label")
    val out = Embed.labelCentroids(vecs, "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getLong(1)) ->
        (r.getDouble(2), r.getLong(3))).toMap
    assert(out == Map(
      (7, 0L) -> ((2.0, 2L)), (7, 1L) -> ((1.0, 2L)),
      (9, 0L) -> ((10.0, 1L)), (9, 1L) -> ((-4.0, 1L))))
  }

  test("semanticDedupHier through the relational-forest branch equals " +
      "the literal plan end to end") {
    // the ForestLiteralMaxLists dispatch only activates past 65 536
    // lists in production; forcing literalMax = 0 drives the SAME
    // keep/drop decision logic through Ivf.fitHierR/assignHierR at a
    // spec-sized geometry — the full-flow coverage of the wiring the
    // large-nlist probe exercises at scale
    import spark.implicits._
    val rng = new scala.util.Random(23)
    val base = (0L until 400L).map { i =>
      i -> Seq.fill(16)(rng.nextFloat() * 2 - 1)
    }
    // planted near-copies so kept=false rows genuinely exist
    val copies = (0L until 20L).map { i =>
      (1000L + i) -> base(i.toInt)._2.map(v => v * 0.999f)
    }
    val df = (base ++ copies).toDF("vec_id", "embedding")
    def run(literalMax: Int) =
      Embed.semanticDedupHierAt(literalMax)(df, "vec_id", "embedding",
        threshold = 0.9, targetListSize = 16, iters = 1,
        fitSamplePct = 100, knownCount = -1L)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getBoolean(2)))
        .toMap
    val lit0 = run(Int.MaxValue) // literal branch
    val rel = run(0)             // relational branch
    assert(lit0.size == 420 && rel.size == 420)
    assert(rel == lit0)
    // the planted copies actually exercised the drop rule
    assert(lit0.count(!_._2._2) >= 15, lit0.count(!_._2._2))
  }
}
