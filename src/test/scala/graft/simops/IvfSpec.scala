package graft.simops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class IvfSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Two-level assignment through the literal forest — the plan the
    * hier operators inline — in the relational path's output shape
    * (`_id`, `_v`, coarse_id, list_id).
    */
  private def assignLiteral(df: org.apache.spark.sql.DataFrame,
                            h: Ivf.HierIndex) = {
    import org.apache.spark.sql.functions.col
    df.select(col("vec_id").as("_id"),
        col("embedding").cast("array<double>").as("_v"))
      .withColumn("_sims", Ivf.simsCol(h.coarse, col("_v")))
      .withColumn("coarse_id", Ivf.nearestList(h.coarse, col("_sims")))
      .drop("_sims")
      .withColumn("list_id", h.listIdCol(col("_v"), col("coarse_id")))
  }

  private def corpus(n: Int, dim: Int, seed: Int) = {
    import spark.implicits._
    val rng = new scala.util.Random(seed)
    (0L until n.toLong).map { i =>
      i -> Seq.fill(dim)(rng.nextFloat() * 2 - 1)
    }.toDF("vec_id", "embedding")
  }

  test("centroids: nlist lists, vector-length centroids") {
    val df = corpus(200, 8, 3)
    val c = Ivf.fitSeq(df, "vec_id", "embedding", nlist = 8, iters = 2,
      fitSamplePct = 100)
    assert(c.length == 8)
    assert(c.forall(_._2.length == 8))
  }

  test("fit on an empty candidate frame fails with a clear error") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ivf.fitSeq(empty, "vec_id", "embedding", nlist = 4, iters = 2,
        fitSamplePct = 100)
    }
    assert(e.getMessage.contains("empty candidate frame"))
  }

  test("IVF top-k: exact scores, reasonable recall vs brute force") {
    val df = corpus(300, 8, 11)
    val q = df.filter(df("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, df, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.topK(q, df, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 4).collect()
    assert(ivf.nonEmpty)
    // exact re-rank: any returned pair that brute force also ranked must
    // carry identical (rounded) similarity — and with half the lists
    // probed, recall should be well above chance
    val returned = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = returned.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@5 (synthetic, nlist=8, nprobe=4): $recall%.3f")
    assert(recall >= 0.4, s"recall $recall")
  }

  test("sampled fit: deterministic sample, recall holds at the driver params") {
    // the registered similarity_ivf parameters (fitSamplePct=60): the
    // index fits on an md5-bucket sample but assignment/ranking cover
    // every candidate — recall must stay comparable to the full fit,
    // and two fits must agree exactly (the sample is a pure function
    // of the ids, no RNG)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(emb("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.topK(q, emb, "vec_id", "embedding", k = 5,
      nlist = 16, nprobe = 4, iters = 1, fitSamplePct = 60)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = ivf.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@5, 60%% sampled fit (nlist=16, nprobe=4): $recall%.3f")
    assert(recall >= 0.3, s"sampled-fit recall $recall")
    val c1 = Ivf.fitSeq(emb, "vec_id", "embedding", nlist = 16,
      iters = 1, fitSamplePct = 60).sortBy(_._1)
    val c2 = Ivf.fitSeq(emb, "vec_id", "embedding", nlist = 16,
      iters = 1, fitSamplePct = 60).sortBy(_._1)
    assert(c1 == c2, "sampled fit must be bit-reproducible")
  }

  test("ANN recall on real embeddings: IVF and LSH vs exact top-k") {
    // the registered driver parameters, on the real embeddings table —
    // the quality yardstick for both approximate paths (logged so each
    // round's recall is visible in the test report)
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = emb.filter(emb("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Ivf.topK(q, emb, "vec_id", "embedding", k = 5,
      nlist = 16, nprobe = 4, iters = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(q, emb, "vec_id", "embedding", 5,
      numPlanes = 16, bands = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rIvf = ivf.intersect(brute).size.toDouble / brute.size
    val rLsh = lsh.intersect(brute).size.toDouble / brute.size
    info(f"IVF recall@5 vs exact (nlist=16, nprobe=4): $rIvf%.3f")
    info(f"LSH recall@5 vs exact (16 planes, 4 bands): $rLsh%.3f")
    assert(rIvf >= 0.3, s"IVF recall $rIvf")
    assert(rLsh >= 0.3, s"LSH recall $rLsh")
  }

  test("relational forest path: assignments bit-identical to the " +
      "literal plan at a shared geometry, full and sampled fits") {
    // the broadcast-relation path (the large-nlist regime past
    // ForestLiteralMaxLists) must be a pure physics change: same 6dp
    // Lloyd means, same cosine float sequence, same first-max /
    // lowest-sub tiebreaks — so at ANY geometry the two paths assign
    // every vector to the same list
    val df = corpus(800, 16, 11)
    for (pct <- Seq(100, 60)) {
      val lit0 = assignLiteral(df, Ivf.fitHier(df, "vec_id", "embedding",
          nlist = 36, iters = 2, fitSamplePct = pct))
        .select("_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      val rel = Ivf.assignHierR(df, "vec_id", "embedding",
          Ivf.fitHierR(df, "vec_id", "embedding", nlist = 36, iters = 2,
            fitSamplePct = pct))
        .select("_id", "list_id").collect()
        .map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(rel.size == 800 && lit0.size == 800)
      val diff = rel.filter { case (id, l) => lit0(id) != l }
      assert(diff.isEmpty, s"pct=$pct: ${diff.take(5)}")
    }
  }

  test("relational refit is fully distributed: no O(nlist) driver " +
      "collect in the sub level") {
    // fitHierR's contract is structural: the only collect is the
    // O(sqrt(nlist)·dim) coarse level. Pin the forest's DataFrame-ness
    // and that a large-ish geometry round-trips through it.
    val df = corpus(600, 8, 7)
    val h = Ivf.fitHierR(df, "vec_id", "embedding", nlist = 100,
      iters = 1, fitSamplePct = 100)
    assert(h.coarse.size <= 10) // C = ceil(sqrt(100))
    val subCount = h.subs.count()
    assert(subCount > 10 && subCount <= 100, subCount)
    val assigned = Ivf.assignHierR(df, "vec_id", "embedding", h)
    assert(assigned.select("list_id").distinct().count() <= 100)
    assert(assigned.count() == 600)
  }
}
