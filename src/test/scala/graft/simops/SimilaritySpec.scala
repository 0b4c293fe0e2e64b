package graft.simops

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class SimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def vecs(rows: (Long, Seq[Float])*) = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  test("cosine: orthogonal 0, identical 1, opposite -1") {
    val df = vecs(
      0L -> Seq(1f, 0f, 0f), 1L -> Seq(0f, 1f, 0f),
      2L -> Seq(1f, 0f, 0f), 3L -> Seq(-1f, 0f, 0f))
    val out = Similarity.bruteForceTopK(
        df.filter(df("vec_id") === 0), df, "vec_id", "embedding", 3)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(out(2L) == 1.0)
    assert(out(1L) == 0.0)
    assert(!out.contains(3L) || out(3L) == -1.0) // rank 4 cut at k=3 keeps top 3
  }

  test("brute-force top-k ranks by similarity with id tiebreak") {
    val df = vecs(
      0L -> Seq(1f, 0f), 1L -> Seq(1f, 0.1f), 2L -> Seq(1f, 0.5f),
      3L -> Seq(0f, 1f))
    val ranked = Similarity.bruteForceTopK(
        df.filter(df("vec_id") === 0), df, "vec_id", "embedding", 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(ranked == Seq(1L, 2L, 3L))
  }

  test("LSH top-k: neighbors it returns agree with brute-force similarity") {
    // deterministic pseudo-random corpus
    val rng = new scala.util.Random(7)
    val rows = (0L until 100L).map { i =>
      i -> Seq.fill(16)(rng.nextFloat() * 2 - 1)
    }
    val df = vecs(rows: _*)
    val q = df.filter(df("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(q, df, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshTopK(q, df, "vec_id", "embedding", 5,
      numPlanes = 16, bands = 8, dim = 16).collect()
    assert(lsh.nonEmpty)
    // every LSH result's sim matches the exact sim computed by brute force
    // (when the pair appears there) — LSH approximates recall, not scores
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(1))
      brute.get(key).foreach(exact => assert(r.getDouble(2) == exact))
    }
  }

  test("near-dup pairs: only pairs above threshold, ids ordered") {
    val df = vecs(
      0L -> Seq(1f, 0f), 1L -> Seq(0.99f, 0.14f), 2L -> Seq(0f, 1f))
    val out = Similarity.nearDupPairsBanded(df, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((0L, 1L)))
  }

  test("knn classify: majority label wins, vote ties break to smaller label") {
    import spark.implicits._
    // k=2. query 0 (x-axis): nearest two are 1 and 2, both label 7 →
    // unanimous. query 10 (y-axis): nearest two are 11 (label 5) and
    // 12 (label 3) — a 1-1 vote tie, which breaks to the SMALLER label.
    val df = Seq(
      (0L, Seq(1f, 0f), 0),
      (1L, Seq(0.99f, 0.1f), 7), (2L, Seq(0.98f, 0.15f), 7),
      (3L, Seq(0.97f, 0.2f), 1),
      (10L, Seq(0f, 1f), 0),
      (11L, Seq(0.1f, 0.99f), 5), (12L, Seq(0.15f, 0.98f), 3))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.knnClassify(
        df.filter(df("vec_id") === 0L || df("vec_id") === 10L),
        df, "vec_id", "embedding", "label", 2)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out(0L) == ((7, 2L)))
    assert(out(10L) == ((3, 1L)))
  }

  test("nearDupIncremental: flags corpus near-dups, leaves fresh vectors new") {
    // corpus: an x-axis vector and a y-axis vector; increment: a
    // near-copy of the x-axis one, an exact copy, and an orthogonal
    // fresh direction nothing stored matches
    val corpus = vecs(1L -> Seq(1f, 0f, 0f, 0f), 2L -> Seq(0f, 1f, 0f, 0f))
    val incoming = vecs(
      10L -> Seq(0.99f, 0.05f, 0f, 0f), // near-dup of 1
      11L -> Seq(1f, 0f, 0f, 0f),       // exact dup of 1
      12L -> Seq(0f, 0f, 0f, 1f))       // fresh
    val out = Similarity.nearDupIncremental(incoming, corpus, "vec_id",
        "embedding", 0.9, numPlanes = 64, bands = 8, dim = 4)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 3)
    assert(!out(10L).getBoolean(3) && out(10L).getLong(1) == 1L)
    assert(!out(11L).getBoolean(3) && out(11L).getLong(1) == 1L)
    assert(out(11L).getDouble(2) == 1.0)
    assert(out(12L).getBoolean(3) && out(12L).isNullAt(1))
  }

  test("nearDupIncremental: best match is (sim desc, lowest corpus id)") {
    // two identical corpus vectors both match at cosine 1.0; the
    // deterministic winner is the lower id
    val corpus = vecs(5L -> Seq(1f, 0f), 3L -> Seq(1f, 0f),
      9L -> Seq(0f, 1f))
    val incoming = vecs(100L -> Seq(1f, 0f))
    val r = Similarity.nearDupIncremental(incoming, corpus, "vec_id",
      "embedding", 0.9, numPlanes = 64, bands = 8, dim = 2).collect().head
    assert(r.getLong(0) == 100L && r.getLong(1) == 3L &&
      r.getDouble(2) == 1.0 && !r.getBoolean(3))
  }

  test("nearDupIncremental agrees with banded pairs over the union corpus") {
    // each incoming vector's accepted match must appear in the batch
    // banded pair set over corpus ∪ increment, at the same rounded sim
    val rng = new scala.util.Random(11)
    def noisy(base: Seq[Float]) =
      base.map(x => x + (rng.nextFloat() - 0.5f) * 0.02f)
    val base = (0 until 8).map(_ => Seq.fill(8)(rng.nextFloat() * 2 - 1))
    val corpus = vecs((0L until 8L).map(i => i -> base(i.toInt)): _*)
    val incoming = vecs(
      (100L until 104L).map(i => i -> noisy(base(i.toInt - 100))) :+
        (200L -> Seq.fill(8)(rng.nextFloat() * 2 - 1)): _*)
    val inc = Similarity.nearDupIncremental(incoming, corpus, "vec_id",
        "embedding", 0.9, numPlanes = 64, bands = 8, dim = 8)
      .collect().filter(!_.getBoolean(3))
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(inc.nonEmpty)
    val batch = Similarity.nearDupPairsBanded(corpus.unionByName(incoming),
        "vec_id", "embedding", 0.9, numPlanes = 64, bands = 8, dim = 8)
      .collect()
      .map(r => (math.max(r.getLong(0), r.getLong(1)),
        math.min(r.getLong(0), r.getLong(1))) -> r.getDouble(2)).toMap
    inc.foreach { case (pair, sim) =>
      assert(batch.get(pair).contains(sim),
        s"incremental match $pair not in batch pair set at the same sim")
    }
  }
}
