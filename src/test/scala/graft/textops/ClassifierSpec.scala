package graft.textops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClassifierSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("scoreLinear: weighted mean in micro-units, OOV zero, empty doc NULL") {
    import spark.implicits._
    val weights = Seq(("alpha", 100L), ("beta", 200L), ("gamma", 0L))
      .toDF("token", "weight")
    val d = docs(
      1L -> "alpha beta",          // (100+200)/2 = 150 -> 150_000_000? no: 1e6*300/2 = 150e6/1e6... score=150 -> 150000000 micro? 10^6*mean
      2L -> "alpha oov oov",       // (100+0+0)/3
      3L -> "",                    // no tokens -> NULL
      4L -> "gamma")               // in-vocab, weight 0
    val out = Classifier.scoreLinear(d, "doc_id", "text", weights)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(1L) == (2L, 2L, Some(150000000L)))
    // round_half_up(10^6 * 100 / 3) = 33333333 (.33 truncates after +n/2)
    assert(out(2L) == (3L, 1L, Some(33333333L)))
    assert(out(3L) == (0L, 0L, None))
    assert(out(4L) == (1L, 1L, Some(0L)))
  }

  test("scoreLinear: round-half-up at the boundary") {
    import spark.implicits._
    // mean = 1/2 -> 10^6/2 = 500000 exactly; mean = 3/2 token weights
    // summing to odd halves exercise the +n/2 rounding
    val w = Seq(("a", 1L), ("b", 0L)).toDF("token", "weight")
    val out = Classifier.scoreLinear(docs(1L -> "a b"), "doc_id", "text", w)
      .collect().head
    assert(out.getLong(3) == 500000L)
  }

  test("fixtureWeights: deterministic top-vocab cut with md5 weights in [0, 2000]") {
    val d = docs(1L -> "x x x y y z", 2L -> "x y w")
    val w = Classifier.fixtureWeights(d, "text", vocab = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // top-3 by (count desc, token asc): x(4), y(3), then w/z tie at 1 -> w
    assert(w.keySet == Set("x", "y", "w"))
    assert(w.values.forall(v => v >= 0 && v <= 2000))
    // repeatable
    val w2 = Classifier.fixtureWeights(d, "text", vocab = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(w == w2)
  }

  test("scoring plan: weight table broadcasts, one combinable aggregate, no corpus-wide shuffle beyond doc partials") {
    import spark.implicits._
    val d = docs((1L to 50L).map(i => i -> s"tok$i alpha beta"): _*)
    val w = Seq(("alpha", 5L)).toDF("token", "weight")
    val plan = Classifier.scoreLinear(d, "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("dsirScore: target-vocabulary docs outrank pool docs; top quartile keeps") {
    import spark.implicits._
    // target docs share a vocabulary ('good quality prose'); pool docs
    // don't. A raw doc WRITTEN in target vocabulary must outscore raw
    // docs that aren't — the whole point of importance reweighting.
    val rows = Seq(
      (1L, "good quality prose here", true),
      (2L, "good quality prose there", true),
      (3L, "good quality prose found", false), // target-like raw doc
      (4L, "junk spam noise filler", false),
      (5L, "other random pool words", false),
      (6L, "more unrelated pool stuff", false),
      (7L, "yet another pool doc", false),
      (8L, "", false)) // token-less
    val df = rows.toDF("doc_id", "text", "is_t")
    val got = Classifier.dsirScore(df, "doc_id", "text", col("is_t"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) Double.NaN else r.getDouble(2),
          r.getBoolean(3))).toMap
    assert(got.size == 8)
    // 4 tokens -> 4 unigrams + 3 bigrams
    assert(got(1L)._1 == 7L)
    assert(got(8L) == ((0L, got(8L)._2, false)) && got(8L)._2.isNaN)
    val targetLike = got(3L)._2
    for (id <- Seq(4L, 5L, 6L, 7L))
      assert(targetLike > got(id)._2,
        s"doc 3 ($targetLike) should outscore doc $id (${got(id)._2})")
    // keep implements the documented rank rule: score strictly above
    // the value at 1-based rank ceil(0.75·n) of the n scored docs
    // (here both top scores TIE the threshold value, so nothing keeps
    // — the strictly-above convention shared with sampleQualityTiers)
    val scores = got.values.collect { case (_, s, _) if !s.isNaN => s }
      .toSeq.sorted
    val thr = scores(math.ceil(0.75 * scores.size).toInt - 1)
    got.foreach { case (id, (_, s, keep)) =>
      assert(keep == (!s.isNaN && s > thr), s"doc $id: score $s thr $thr")
    }
  }

  test("dsirScore plan: ratio table broadcasts; doc attach-back carries no broadcast hint") {
    import spark.implicits._
    val conf = spark.conf
    val prevBc = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val d = (1L to 60L).map(i => (i, s"tok$i alpha beta", i % 4 == 0))
        .toDF("doc_id", "text", "is_t")
      val p = Classifier.dsirScore(d, "doc_id", "text", col("is_t"))
        .queryExecution.executedPlan.toString
      // hinted broadcasts: ratio table, totals scalar, threshold scalar
      // — all bucket/scalar-sized. The doc-keyed join must shuffle.
      assert(
        p.linesIterator.count(l => l.contains("SortMergeJoin") ||
          l.contains("ShuffledHashJoin")) >= 1, p)
      assert(!p.contains("CartesianProduct"), p)
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }
}
