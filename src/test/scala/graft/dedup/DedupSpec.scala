package graft.dedup

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Dedup operators on constructed corpora with known duplicate structure. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private val base = "the quick brown fox jumps over the lazy dog " * 4
  private val nearDup = base.replace("lazy", "sleepy") // one token differs
  private val other = "completely different content about spark window functions " * 4

  test("substrings: planted verbatim overlap yields exactly its maximal spans") {
    // a 12-word passage shared verbatim by docs 1 and 2 at different
    // offsets, plus a doc that repeats its own first 5 words — k=5
    val passage = (0 until 12).map(i => s"p$i").mkString(" ")
    val a = ((0 until 10).map(i => s"a$i") ++ Seq(passage) ++
      Seq("x0", "x1", "x2")).mkString(" ")
    val b = ((0 until 8).map(i => s"b$i") :+ passage).mkString(" ")
    val c = (0 until 5).map(i => s"r$i").mkString(" ")
    val df = docs(1L -> a, 2L -> b, 3L -> (c + " " + c))
    val out = Dedup.substrings(df, "doc_id", "text", k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(out == Set(
      (1L, 10L, 22L, 12L),  // the passage inside doc 1
      (2L, 8L, 20L, 12L),   // the passage inside doc 2
      (3L, 0L, 5L, 5L),     // both copies of doc 3's self-repeat:
      (3L, 5L, 10L, 5L)))   // runs {0} and {5} are not adjacent
  }

  test("substrings: no spans on a corpus with no k-gram repeated") {
    val df = docs(
      1L -> (0 until 30).map(i => s"u$i").mkString(" "),
      2L -> (0 until 30).map(i => s"v$i").mkString(" "),
      3L -> "short doc")
    assert(Dedup.substrings(df, "doc_id", "text", k = 5).count() == 0)
  }

  test("substringsChar: catches a planted mid-word overlap word grams miss") {
    // templated boilerplate with an interpolated value: the shared run
    // starts and ends MID-WORD (the userX/userY token differs, the
    // template inside it is verbatim). Both docs have plenty of word
    // 3-grams, but none repeat — the duplication never aligns with a
    // word boundary; char 10-grams catch the template exactly.
    val template = "0123456789abcdefghij" // 20 chars, shared verbatim
    // the interpolated halves diverge IMMEDIATELY on both sides of the
    // template ('X'/'Y' before, 'q'/'z' after) so the maximal shared
    // run is exactly the template span
    val a = s"one two userX${template}qq six seven"
    val b = s"ten eleven nameY${template}zz twelve"
    val df = docs(1L -> a, 2L -> b)
    assert(Dedup.substrings(df, "doc_id", "text", k = 3).count() == 0,
      "word grams should miss the mid-word overlap")
    val out = Dedup.substringsChar(df, "doc_id", "text", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: "one two userX" is 13 chars, template spans [13, 33);
    // doc 2: "ten eleven userY" is 16 chars, template spans [16, 36);
    // maximal run = exactly the template span in each doc
    assert(out == Set((1L, 13L, 33L, 20L), (2L, 16L, 36L, 20L)),
      out.toString)
  }

  test("substringsChar: positions are code points, not bytes") {
    // multi-byte prefixes of different lengths shift the BYTE offsets
    // of the shared run differently; code-point positions must land
    // where DuckDB's character-indexed substr would. 'é' is 2 UTF-8
    // bytes, '的' is 3 — both ONE code point.
    val shared = "qwertyuiopasdfghjkl;" // 20 chars
    val df = docs(1L -> s"é$shared", 2L -> s"的$shared")
    val out = Dedup.substringsChar(df, "doc_id", "text", k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // the shared run starts at code point 1 in BOTH docs
    assert(out == Set((1L, 1L, 21L), (2L, 1L, 21L)), out.toString)
  }

  test("substringsChar: no spans when nothing repeats at k chars") {
    val df = docs(
      1L -> (0 until 40).map(i => s"u$i").mkString(""),
      2L -> (0 until 40).map(i => s"v$i").mkString(""),
      3L -> "tiny")
    assert(Dedup.substringsChar(df, "doc_id", "text", k = 10).count() == 0)
  }

  test("exact: whitespace/case-normalized duplicates collapse") {
    val df = docs(1L -> "Hello  World", 2L -> "hello world ",
      3L -> "something else")
    val out = Dedup.exact(df, "doc_id", "text").collect()
    assert(out.length == 2)
    val dup = out.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 1) // keep_id = min doc_id
  }

  test("minhash+LSH finds the planted near-duplicate, not the distinct doc") {
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val pairs = Dedup.minhashLsh(df, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("acceptedLayerFromSig: bit-identical to SignatureStore.build on the accepted slice") {
    // the _updated rows derive the accepted-layer store frames from the
    // A probe's fused (sh, sig) checkpoint instead of re-signing — this
    // pins the derivation against the store builder on every column
    import spark.implicits._
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other,
      4L -> (base + " extra trailing tokens here"))
    val sig = Dedup.minhashIncSig(d, "doc_id", "text", 3, 8, 2)
    val accIds = Seq(1L, 3L).toDF("doc_id")
    val derived = Dedup.acceptedLayerFromSig(sig, accIds, 8, 2)
    val built = SignatureStore.build(
      d.join(accIds, "doc_id"), "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.collect().map(_.toString).toSet
    assert(rows(derived.banded) == rows(built.banded))
    assert(rows(derived.shingleHashes) == rows(built.shingleHashes))
  }

  test("accepted span deltas from the winnow checkpoint == spanDeltaRows on the accepted slice") {
    // dedup_spans_stored_updated derives the accepted-A delta rows
    // from the A probe's checkpointed (inc_id, fp) frame instead of
    // re-winnowing the accepted docs — pin row equality
    import spark.implicits._
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other,
      4L -> (base + " more winnowable text for spans"))
    val fps = Dedup.spanIncFps(d, "doc_id", "text", k = 8, w = 4)
    val accIds = Seq(1L, 4L).toDF("doc_id")
    val derived = fps
      .join(accIds.withColumnRenamed("doc_id", "inc_id"), "inc_id")
      .select(org.apache.spark.sql.functions.col("inc_id").as("doc_id"),
        org.apache.spark.sql.functions.col("fp"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val direct = SignatureStore.spanDeltaRows(
      d.join(accIds, "doc_id"), "doc_id", "text", k = 8, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(derived == direct && derived.nonEmpty)
  }

  test("acceptedMediaFromBanded: reconstructs the accepted (id, fingerprint) rows exactly") {
    import spark.implicits._
    val fps = Seq((1L, 111L), (2L, 222L), (3L, 333L))
      .toDF("media_id", "fp")
    val banded = Dedup.hammingBandedCkpt(fps, "media_id", "fp")
    val acc = Seq(1L, 3L).toDF("media_id")
    val out = Dedup.acceptedMediaFromBanded(banded, acc, "media_id", "fp")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((1L, 111L), (3L, 333L)))
  }

  test("minhashLsh melt verify: identical decisions under ANSI mode (null-guard is structural)") {
    // r16 verdict edge: the melted verify's missing-member case used to
    // lean on legacy size(NULL) = -1 pushing jaccard below threshold —
    // under ANSI (size(NULL) = NULL) the arithmetic path differs, so
    // the decision must now flow through the explicit not-null guard.
    // Pin output equality across both modes on the planted fixture.
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other, 4L -> "")
    def run(): Set[(Long, Long, Double)] =
      Dedup.minhashLsh(df, "doc_id", "text",
          shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    val default = run()
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try assert(run() == default)
    finally spark.conf.unset("spark.sql.ansi.enabled")
    assert(default.map(p => (p._1, p._2)) == Set((1L, 2L)))
  }

  test("scaledBandGeometry: 8x2 below the knee, rows +1 per ~decade, recall-solved bands") {
    // below/at knee: EXACTLY the default geometry (oracle compatibility
    // at every driver sf and the zsf1 anchor)
    assert(Dedup.scaledBandGeometry(500) == (8, 2))
    assert(Dedup.scaledBandGeometry(50000) == (8, 2))
    assert(Dedup.scaledBandGeometry(65536) == (8, 2))
    // first doubling past the knee: rows 3, bands re-solved for >= 90%
    // recall at t=0.5 (b = ceil(ln 10 / -ln(1 - 0.5^3)) = 18)
    assert(Dedup.scaledBandGeometry(65537) == (18, 3))
    assert(Dedup.scaledBandGeometry(500000) == (18, 3)) // zsf10 regime
    // 4 doublings: rows 4, b = ceil(ln 10 / -ln(1 - 0.5^4)) = 36
    assert(Dedup.scaledBandGeometry(600000) == (36, 4))
    // the signature budget is EXPONENTIAL in r (b ~ ln10 / t^r), so r
    // caps at 5 (365 hashes/doc): from ~4M docs on, geometry FREEZES
    // at the cap's solve instead of growing b*r without bound — past
    // the cap the maxBucket cap + capstats observability bound the
    // candidate volume (the documented trade in the scaladoc)
    assert(Dedup.scaledBandGeometry(1L << 24) == (73, 5))
    assert(Dedup.scaledBandGeometry(1L << 30) == (73, 5))
    assert(Dedup.scaledBandGeometry(1L << 40) == (73, 5))
    // recall holds analytically at every geometry the law emits:
    // P[candidate | j=t] = 1 - (1 - t^r)^b >= 0.9
    for (n <- Seq(1L << 17, 1L << 20, 1L << 24, 1L << 30, 1L << 40)) {
      val (b, r) = Dedup.scaledBandGeometry(n)
      val p = 1.0 - math.pow(1.0 - math.pow(0.5, r), b)
      assert(p >= 0.9, s"n=$n geometry=($b,$r) recall=$p")
      assert(b * r <= 365, s"n=$n geometry=($b,$r) budget=${b * r}")
    }
  }

  test("planted near-dup recall holds at BOTH the default and the 100x scaled geometry") {
    // the two-scale recall assertion behind the AUTO rows: the same
    // planted near-dup must surface under (8,2) — every driver sf —
    // and under (18,3), the geometry the law emits for the zsf10
    // corpus size. The verify threshold is what gates OUTPUT, so both
    // geometries must carry the pair through candidates.
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    for ((b, r) <- Seq((8, 2), (18, 3))) {
      val pairs = Dedup.minhashLsh(df, "doc_id", "text",
          shingleSize = 3, bands = b, rowsPerBand = r, threshold = 0.3)
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(pairs == Set((1L, 2L)), s"geometry ($b,$r)")
    }
    // AUTO (bands <= 0) equals the explicit default below the knee
    val auto = Dedup.minhashLsh(df, "doc_id", "text", shingleSize = 3,
        bands = -1, rowsPerBand = -1, threshold = 0.3)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(auto == Set((1L, 2L)))
    // knownCount replaces the AUTO count ACTION (no lineage replay):
    // a planted above-knee count puts this tiny frame on the (18,3)
    // geometry, and the planted pair still surfaces under it
    val forced = Dedup.minhashLsh(df, "doc_id", "text", shingleSize = 3,
        bands = -1, rowsPerBand = -1, threshold = 0.3,
        knownCount = 200000L)
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(forced == Set((1L, 2L)))
  }

  test("sorted-prefix maxDf cap: distinctive pairs survive, boilerplate-only pairs drop") {
    // 20 docs sharing ONLY a verbatim boilerplate sentence (df 20 > 16
    // for each of its shingles) plus one genuine near-dup pair whose
    // shared shingles are rare. Uncapped, the boilerplate docs pair up
    // quadratically at threshold ~0; capped, only the distinctive pair
    // remains — and its jaccard is measured over rare shingles only.
    val boiler = "accept all cookies to continue reading this site"
    val filler = (1L to 20L).map(i =>
      i -> s"$boiler unique$i word$i token$i extra$i")
    val df = docs((filler :+
      (100L -> base) :+ (101L -> nearDup)): _*)
    val capped = Dedup.ngramJaccardSortedPrefix(df, "doc_id", "text",
        shingleSize = 3, threshold = 0.3, maxDf = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((100L, 101L)), s"capped pairs: $capped")
    // uncapped keeps the boilerplate cross-pairs (the quadratic mass
    // the cap exists to drop)
    val uncapped = Dedup.ngramJaccardSortedPrefix(df, "doc_id", "text",
        shingleSize = 3, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((100L, 101L)))
    assert(uncapped.exists { case (a, b) => a <= 20 && b <= 20 },
      "expected boilerplate-only pairs without the cap")
  }

  test("minhash+LSH over segmentScripts catches no-space CJK near-dups") {
    import org.apache.spark.sql.functions.col
    // a no-space Han pair differing in ONE trailing ideograph, plus an
    // unrelated Han doc — all md5-deterministic, so the found set is
    // stable run to run
    val a = "这是一个用于去重检测的固定测试文本内容相当长足够产生很多字符级三元组"
    val b = a.dropRight(1) + "尾"
    val c = "完全不同的另一篇文档讲述火花窗口函数与分布式聚合的实现细节与性能权衡"
    val df = docs(1L -> a, 2L -> b, 3L -> c)
    def pairs(d: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLsh(d, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // WITHOUT segmentation each doc is one whitespace token → one
    // whole-text shingle → the near pair is INVISIBLE (the silent
    // multilingual failure mode this operator family had)
    assert(pairs(df) == Set.empty)
    // WITH the pre-pass: character shingles carry the pair; the
    // unrelated doc stays unpaired
    val seg = df.withColumn("text",
      graft.textops.TextOps.segmentScripts(col("text")))
    assert(pairs(seg) == Set((1L, 2L)))
  }

  test("editDistancePairs: the one-token revision pairs with a small distance; unrelated docs don't") {
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val got = Dedup.editDistancePairs(df, "doc_id", "text",
        maxDist = 20, prefixLen = 400)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(p => (p._1, p._2)).toSet == Set((1L, 2L)))
    // "lazy" -> "sleepy": 3 edits per occurrence, 4 occurrences in the
    // 400-char prefix... distance is positive and well under the cap
    val d = got.head._3
    assert(d > 0 && d <= 20, s"distance $d")
  }

  test("editDistancePairs: maxDist excludes pairs beyond the cap (threshold DP, not full DP)") {
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val got = Dedup.editDistancePairs(df, "doc_id", "text",
        maxDist = 2, prefixLen = 400).collect()
    assert(got.isEmpty, s"one-token-per-repeat revision is > 2 edits: ${got.toSeq}")
  }

  test("hot-bucket cap bounds candidates; exact dedup owns identical content") {
    // the 100 TB skew story: content cloned thousands of times puts
    // every clone in the same LSH bucket per band — quadratic candidate
    // pairs if generated. maxBucket drops such degenerate buckets
    // (bounded recall loss by design: IDENTICAL content is exact
    // dedup's job, which catches it in one linear shuffle).
    val clones = (100L until 300L).map(_ -> other)
    val df = docs(clones ++ Seq(1L -> base, 2L -> nearDup,
      3L -> "unique filler text that matches nothing else at all"): _*)
    // capped (default 64): the 200-clone buckets die, the genuine
    // near-dup pair (bucket of 2) survives
    val capped = Dedup.minhashLsh(df, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 2L)))
    // cap lifted: the full clone clique comes back — proof the CAP
    // removed those pairs, not the hashing
    val uncapped = Dedup.minhashLsh(df, "doc_id", "text",
        shingleSize = 3, bands = 8, rowsPerBand = 2, threshold = 0.3,
        maxBucket = 1000).count()
    assert(uncapped == 200L * 199 / 2 + 1)
    // and exact dedup resolves the identical clones regardless
    val ex = Dedup.exact(df, "doc_id", "text").collect()
    assert(ex.count(_.getLong(2) == 200L) == 1 && ex.length == 4)
  }

  test("minhash jaccard estimate is the exact shingle jaccard (verified pairs)") {
    val df = docs(1L -> base, 2L -> nearDup)
    val j = Dedup.minhashLsh(df, "doc_id", "text", threshold = 0.1)
      .collect().head.getDouble(2)
    assert(j > 0.3 && j < 1.0)
  }

  test("simhash: near-dup within banding reach, distinct doc far") {
    // simhash needs token-rich docs: one changed token in 200 flips only
    // the bits whose ±1 majorities were near zero (expected hamming ~2);
    // in a 9-token doc the same edit flips a third of the fingerprint
    val big = (0 until 200).map(i => s"word$i").mkString(" ")
    val bigNear = big.replace("word199", "changed")
    val df = docs(1L -> big, 2L -> bigNear, 3L -> other)
    val sigs = Dedup.simhash(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) < ham(sigs(1L), sigs(3L)))
    val pairs = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && !pairs.contains((1L, 3L)))
  }

  test("prefix-filtered jaccard equals the full inverted index on real docs") {
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getDouble(3))).toSet
    for (t <- Seq(0.5, 0.8)) {
      val full = canon(Dedup.ngramJaccard(docs, "doc_id", "text", 3, t))
      val sort = canon(Dedup.ngramJaccardSortedPrefix(docs, "doc_id", "text", 3, t))
      assert(full == sort, s"threshold $t (sorted-prefix)")
      assert(full.nonEmpty)
    }
  }

  test("spanPairs: embedded passage links the pair, boilerplate df-cap holds") {
    val passage = "copied paragraph with enough characters to fingerprint well"
    val boiler = "standard license header present on absolutely every page here"
    // docs 1 and 2 share the passage inside otherwise-different text;
    // the boilerplate line is on ALL docs and must not link 3/4/5
    val df = docs(
      1L -> s"$boiler alpha beta gamma $passage delta epsilon",
      2L -> s"$boiler totally other words around $passage zeta eta",
      3L -> s"$boiler unrelated text about spark physical plans",
      4L -> s"$boiler more unrelated text on lag matrices and windows",
      5L -> s"$boiler yet another page of filler prose entirely")
    val out = Dedup.spanPairs(df, "doc_id", "text",
      k = 8, w = 4, minShared = 5, maxDf = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set(1L -> 2L),
      s"only the passage-sharing pair should link, got $out")
  }

  test("scaledWinnowWindow: w0 below the knee, +1 per corpus doubling past it") {
    assert(Dedup.scaledWinnowWindow(500) == 4)
    assert(Dedup.scaledWinnowWindow(65536) == 4)
    assert(Dedup.scaledWinnowWindow(65537) == 5)
    assert(Dedup.scaledWinnowWindow(131072) == 5)
    assert(Dedup.scaledWinnowWindow(131073) == 6)
    assert(Dedup.scaledWinnowWindow(500000) == 7)
    assert(Dedup.scaledWinnowWindow(5000000) == 11)
    // AUTO (w <= 0) equals explicit w=4 below the knee
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val auto = Dedup.spanPairs(df, "doc_id", "text", k = 8, w = -1,
      minShared = 1).collect().toSet
    val fixed = Dedup.spanPairs(df, "doc_id", "text", k = 8, w = 4,
      minShared = 1).collect().toSet
    assert(auto == fixed && auto.nonEmpty)
  }

  test("spanIncremental: embedded passage flags the incoming doc, fresh stays new") {
    val passage = "copied paragraph with enough characters to fingerprint well"
    val corpus = docs(
      1L -> s"alpha beta gamma $passage delta epsilon",
      2L -> "unrelated corpus text about spark physical plans entirely")
    val incoming = docs(
      10L -> s"totally other words around $passage zeta eta",
      11L -> "genuinely fresh prose sharing no passage with anything stored")
    val out = Dedup.spanIncremental(incoming, corpus, "doc_id", "text",
        k = 8, w = 4, minShared = 5, maxDf = 16)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 2)
    assert(!out(10L).getBoolean(3) && out(10L).getLong(1) == 1L)
    assert(out(10L).getLong(2) >= 5L)
    assert(out(11L).getBoolean(3) && out(11L).isNullAt(1))
  }

  test("spanIncremental: best match is (n_shared desc, lowest corpus id)") {
    // two identical corpus docs share the incoming doc's full
    // fingerprint set; the deterministic winner is the lower id
    val corpus = docs(5L -> base, 3L -> base, 9L -> other)
    val incoming = docs(100L -> base)
    val r = Dedup.spanIncremental(incoming, corpus, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = 16).collect().head
    val fpCount = graft.textops.TextOps.winnowing(
      docs(1L -> base), "doc_id", "text", k = 8, w = 4).count()
    assert(r.getLong(0) == 100L && r.getLong(1) == 3L &&
      r.getLong(2) == fpCount && !r.getBoolean(3))
  }

  test("span store round-trips and the stored probe equals the direct one") {
    // write the corpus's winnow-fp store to parquet, read it back, and
    // probe: the persisted form (df denormalized at build) must make
    // the IDENTICAL decision the text-rescanning incremental makes
    val passage = "copied paragraph with enough characters to fingerprint well"
    val corpus = docs(
      1L -> s"alpha beta gamma $passage delta epsilon",
      2L -> "unrelated corpus text about spark physical plans entirely")
    val incoming = docs(
      10L -> s"totally other words around $passage zeta eta",
      11L -> "genuinely fresh prose sharing no passage with anything stored")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val direct = rowsOf(Dedup.spanIncremental(incoming, corpus,
      "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16))
    val tmp = java.nio.file.Files.createTempDirectory("spanstore").toString
    SignatureStore.writeSpans(
      SignatureStore.buildSpans(corpus, "doc_id", "text", k = 8, w = 4), tmp)
    val stored = rowsOf(Dedup.spanIncrementalStored(incoming,
      SignatureStore.readSpans(spark, tmp), "doc_id", "text",
      k = 8, w = 4, minShared = 5, maxDf = 16))
    assert(stored == direct)
    assert(direct.exists(r => !r._4), "fixture must contain a span match")
  }

  test("spanPairs: n_shared counts distinct shared fingerprints, ordered pairs") {
    val df = docs(1L -> base, 2L -> base, 3L -> other)
    val rows = Dedup.spanPairs(df, "doc_id", "text",
      k = 8, w = 4, minShared = 1, maxDf = 16).collect()
    val pair = rows.find(r => r.getLong(0) == 1L && r.getLong(1) == 2L)
    assert(pair.isDefined, "identical docs must pair")
    // identical docs share their whole fingerprint set
    val fpCount = graft.textops.TextOps.winnowing(
      docs(1L -> base), "doc_id", "text", k = 8, w = 4).count()
    assert(pair.get.getLong(2) == fpCount)
    // no self-pairs, no reversed duplicates
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("exactIncremental: corpus hits, batch-internal dups, and fresh docs") {
    val corpus = docs(1L -> "Hello  World", 2L -> "existing page")
    val incoming = docs(
      10L -> "hello world ",       // dup of corpus doc 1 (normalized)
      11L -> "brand new content",  // new
      12L -> "brand  NEW content", // dup of 11 within the batch
      13L -> "another new doc")
    val out = Dedup.exactIncremental(incoming, corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(10L -> false, 11L -> true, 12L -> false, 13L -> true))
    // plan shape: the corpus probe must be a broadcast join (incoming
    // side small), never a shuffle of the corpus
    val p = Dedup.exactIncremental(incoming, corpus, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("exactIncrementalBloom equals exactIncremental through a store round-trip") {
    // the membership sketch has no false negatives and the verify join
    // removes its false positives, so the decision must be identical —
    // exercised on a corpus large enough that the 3% fpp path almost
    // surely fires at least once, plus the planted dup/fresh mix
    val rng = new scala.util.Random(9)
    val corpusTexts = (0L until 300L).map(i =>
      i -> s"corpus document ${rng.nextInt(100000)} body $i")
    val corpus = docs(corpusTexts: _*)
    val incoming = docs(((1000L until 1200L).map(i =>
      i -> s"incoming fresh ${rng.nextInt(100000)} body $i") ++ Seq(
      2000L -> "corpus document 1 copy",
      2001L -> "Corpus  Document 1 COPY",   // batch dup of 2000
      2002L -> corpusTexts.head._2)): _*)   // exact corpus-doc-0 text
      .union(corpus.limit(5).selectExpr("doc_id + 5000 AS doc_id", "text"))
    val direct = Dedup.exactIncremental(incoming, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    val sd = java.nio.file.Files.createTempDirectory("bloom_store").toString
    val (st, meta) = BloomStore.build(corpus, "doc_id", "text")
    BloomStore.write(st, meta, sd)
    val probed = Dedup.exactIncrementalBloom(incoming,
        BloomStore.read(spark, sd)._1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
      .sortBy(_._1).toSeq
    assert(probed == direct)
    // the planted corpus copies (ids 5000-5004) must all be flagged
    assert(probed.filter(_._1 >= 5000).forall(!_._3))
    // flagged: 2001 (batch dup), 2002 (exact corpus-0 copy), 5000-5004
    assert(probed.count(!_._3) >= 7, probed.count(!_._3))
    assert(!probed.find(_._1 == 2002L).get._3)
  }

  test("BloomStore appendWrite grows actualN; compact restores geometry " +
      "and keeps decisions") {
    import org.apache.spark.sql.functions.col
    val corpus = docs((0L until 200L).map(i => i -> s"base doc $i"): _*)
    val sd = java.nio.file.Files.createTempDirectory("bloom_compact").toString
    val (st, meta0) = BloomStore.build(corpus, "doc_id", "text")
    BloomStore.write(st, meta0, sd)
    assert(meta0.expectedN == 200L && meta0.actualN == 200L && !meta0.overfull)
    // append 100 accepted fingerprints (simulating three retried
    // ingests of the same increment — duplicates in the fp files)
    val incFps = docs((1000L until 1100L).map(i =>
      i -> s"accepted doc $i"): _*)
      .select(graft.textops.TextOps.fingerprint(col("text")).as("fingerprint"))
    val (stored, metaR) = BloomStore.read(spark, sd)
    val meta1 = BloomStore.appendWrite(incFps, stored, metaR, sd)
    val meta2 = BloomStore.appendWrite(incFps, stored, meta1, sd)
    assert(meta2.actualN == 400L && meta2.expectedN == 200L && meta2.overfull)
    // re-read: persisted meta carries the grown count (r12 ADVICE)
    assert(BloomStore.read(spark, sd)._2.actualN == 400L)
    val incoming = docs(
      9000L -> "base doc 7",      // dup of corpus
      9001L -> "accepted doc 1005", // dup of an appended fp
      9002L -> "genuinely fresh")
    def decide() = Dedup.exactIncrementalBloom(incoming,
        BloomStore.read(spark, sd)._1, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val before = decide()
    val metaC = BloomStore.compact(spark, sd)
    val after = decide()
    assert(before == after)
    assert(after == Map(9000L -> false, 9001L -> false, 9002L -> true))
    // compaction healed the double append (300 distinct keys) and
    // refit the sketch at the true count — fpp back at target
    assert(metaC.expectedN == 300L && metaC.actualN == 300L && !metaC.overfull)
    assert(BloomStore.read(spark, sd)._1.fps.count() == 300L)
  }

  test("BloomStore.read self-heals the two-rename crash window from " +
      "bloom.bin.old") {
    // writeBloom's swap has an instant with NO bloom.bin on disk; a
    // crash there strands the previous sketch at bloom.bin.old —
    // which is ⊇ every fingerprint row on disk (appendWrite persists
    // sketch BEFORE fps), so reading it is invariant-safe. Simulate
    // the crash state by renaming the live sketch aside.
    val corpus = docs((0L until 100L).map(i => i -> s"crash doc $i"): _*)
    val sd = java.nio.file.Files.createTempDirectory("bloom_crash").toString
    val (st, meta) = BloomStore.build(corpus, "doc_id", "text")
    BloomStore.write(st, meta, sd)
    val live = new java.io.File(s"$sd/bloom.bin")
    assert(live.renameTo(new java.io.File(s"$sd/bloom.bin.old")))
    val healed = Dedup.exactIncrementalBloom(
        docs(900L -> "crash doc 7", 901L -> "fresh crash-window doc"),
        BloomStore.read(spark, sd)._1, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(healed == Map(900L -> false, 901L -> true),
      s"decisions through the .old sketch must be unchanged: $healed")
  }

  test("bloom A/B loop: a B dup of an ACCEPTED A doc is caught through " +
      "the persisted sketch; a dup of a REJECTED A doc stays flagged " +
      "against the corpus") {
    import org.apache.spark.sql.functions.col
    val corpus = docs((0L until 100L).map(i => i -> s"corpus doc $i"): _*)
    val sd = java.nio.file.Files.createTempDirectory("bloom_ab").toString
    val (st, meta) = BloomStore.build(corpus, "doc_id", "text")
    BloomStore.write(st, meta, sd)
    val incA = docs(
      1000L -> "novel A content",  // accepted
      1001L -> "corpus doc 42")    // rejected (corpus dup)
    val probeA = Dedup.exactIncrementalBloom(incA, st, "doc_id", "text")
    BloomStore.appendWrite(
      probeA.filter(col("is_new")).select(col("fingerprint")),
      st, meta, sd)
    val incB = docs(
      2000L -> "Novel  A CONTENT",  // dup of ACCEPTED A — the append catch
      2001L -> "corpus doc 42",     // dup of rejected A = corpus dup
      2002L -> "fresh B content")
    val out = Dedup.exactIncrementalBloom(incB,
        BloomStore.read(spark, sd)._1, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(2000L -> false, 2001L -> false, 2002L -> true))
  }

  test("lines A/B loop: a B line introduced by an ACCEPTED A doc drops " +
      "cross-increment through the appended sketch") {
    import org.apache.spark.sql.functions.{col, explode, split, xxhash64}
    val corpus = docs(1L -> "banner line\ncorpus one",
      2L -> "corpus two")
    val sd = java.nio.file.Files.createTempDirectory("lines_ab").toString
    val (st, meta) = BloomStore.buildLines(corpus, "text")
    BloomStore.write(st, meta, sd)
    // A: doc 10 keeps "fresh alpha" (banner drops against the corpus)
    val incA = docs(10L -> "fresh alpha\nbanner line")
    val probeA = graft.textops.LineDedup.dedupLinesIncrementalBloom(
      incA, st, "doc_id", "text")
    val acc = probeA.filter(col("n_kept") > 0)
      .select(explode(split(col("text_clean"), "\n")).as("_ln"))
      .select(xxhash64(col("_ln")).as("fingerprint")).distinct()
    BloomStore.appendWrite(acc, st, meta, sd)
    // B: "fresh alpha" must now drop (accepted-A catch), "fresh beta"
    // survives, the corpus banner still drops
    val incB = docs(20L -> "fresh alpha\nfresh beta\nbanner line")
    val out = graft.textops.LineDedup.dedupLinesIncrementalBloom(
        incB, BloomStore.read(spark, sd)._1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3)))
    assert(out.toSeq == Seq((20L, 3L, 1L, "fresh beta")), out.toSeq)
  }

  test("dedupLinesIncrementalBloom equals dedupLinesIncremental through " +
      "a store round-trip") {
    val corpus = docs(
      1L -> "shared boilerplate\nunique one\nshared boilerplate",
      2L -> "unique two\nshared boilerplate",
      3L -> "only in corpus")
    val incoming = docs(
      10L -> "shared boilerplate\nfresh line a\nfresh line a",
      11L -> "fresh line a\nonly in corpus\nfresh line b",
      12L -> "entirely new doc")
    val direct = graft.textops.LineDedup.dedupLinesIncremental(
        incoming, corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    val sd = java.nio.file.Files.createTempDirectory("bloom_lines").toString
    val (st, meta) = BloomStore.buildLines(corpus, "text")
    BloomStore.write(st, meta, sd)
    val probed = graft.textops.LineDedup.dedupLinesIncrementalBloom(
        incoming, BloomStore.read(spark, sd)._1, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).sortBy(_._1).toSeq
    assert(probed == direct)
    // the cross-set drop and the within-increment first-occurrence
    // rule both fired: doc 10 keeps ONE "fresh line a", doc 11 keeps
    // only "fresh line b" (line a taken by doc 10, corpus line dropped)
    val byId = probed.map(r => r._1 -> r._4).toMap
    assert(byId(10L) == "fresh line a")
    assert(byId(11L) == "fresh line b")
    assert(byId(12L) == "entirely new doc")
    // the store holds DISTINCT line hashes only
    assert(BloomStore.read(spark, sd)._1.fps.count() == 4L)
  }

  test("spanPairs equals a driver-side recount of shared winnow fingerprints") {
    // randomized corpus with planted overlaps; recompute the definition
    // naively from the winnowing output and compare exactly
    val rng = new scala.util.Random(5)
    val phrases = Vector("alpha beta gamma delta", "omega psi chi phi",
      "lorem ipsum dolor sit", "spark plans shuffle stages")
    val corpus = (0L until 30L).map { i =>
      val parts = Seq.fill(3)(phrases(rng.nextInt(phrases.length)))
      i -> parts.mkString(s" filler${rng.nextInt(1000)} ")
    }
    val df = docs(corpus: _*)
    val maxDf = 8; val minShared = 2
    val got = Dedup.spanPairs(df, "doc_id", "text",
      k = 8, w = 4, minShared = minShared, maxDf = maxDf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val fps = graft.textops.TextOps.winnowing(df, "doc_id", "text", 8, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val dfCount = fps.groupBy(_._2).view.mapValues(_.length).toMap
    val rare = fps.filter(p => dfCount(p._2) <= maxDf)
    val byFp = rare.groupBy(_._2)
    val expected = byFp.values.flatMap { ps =>
      val ids = ps.map(_._1).sorted
      for (i <- ids.indices; j <- (i + 1) until ids.length)
        yield (ids(i), ids(j))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      .filter(_._2 >= minShared)
    assert(got == expected)
  }

  test("clusters: transitive chain collapses to one component") {
    import spark.implicits._
    // a~b, b~c, plus an unrelated d~e: closure must merge {1,2,3}
    // even though (1,3) was never scored
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val out = Dedup.clusters(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(out == Set((1L, 1L, 3L), (2L, 1L, 3L), (3L, 1L, 3L),
      (7L, 7L, 2L), (9L, 7L, 2L)))
  }

  test("clusters: distributed fixpoint equals driver-side union-find") {
    import spark.implicits._
    // deterministic pseudo-random sparse graph with chains, a star, and
    // singleton pairs — exercises pointer jumping over several rounds.
    // localEdgeThreshold = 0 forces the distributed loop; the default
    // takes the union-find fast path. Both must produce identical
    // min-label components and sizes.
    val edges = (0 until 60).map { i =>
      val a = (i * 37) % 83; val b = (a + 1 + (i * 13) % 7).toLong
      (a.toLong, b)
    } ++ Seq((200L, 201L), (201L, 202L), (202L, 203L), (203L, 204L))
    val pairs = edges.toDF("doc_a", "doc_b")
    def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val local = norm(Dedup.clusters(pairs))
    val dist = norm(Dedup.clusters(pairs, localEdgeThreshold = 0))
    assert(local == dist)
    assert(local.nonEmpty)
  }

  test("clusters property: union-find equals distributed fixpoint on random graphs") {
    import spark.implicits._
    // ScalaCheck-generated sparse graphs (chains, stars, cliques mixed by
    // construction of random endpoints over a small id space, forcing
    // collisions and multi-hop components). One frame per case; 6 cases
    // keeps this to a bounded number of Spark jobs.
    val edgeGen = for {
      n <- org.scalacheck.Gen.chooseNum(1, 120)
      es <- org.scalacheck.Gen.listOfN(n, for {
        a <- org.scalacheck.Gen.chooseNum(0L, 40L)
        b <- org.scalacheck.Gen.chooseNum(0L, 40L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield es
    val seed = org.scalacheck.rng.Seed(42L)
    val cases = (0 until 6).scanLeft(seed -> List.empty[(Long, Long)]) {
      case ((s, _), _) =>
        val r = edgeGen.pureApply(org.scalacheck.Gen.Parameters.default, s)
        s.next -> r
    }.tail.map(_._2).filter(_.nonEmpty)
    for (es <- cases) {
      val pairs = es.toDF("doc_a", "doc_b")
      def norm(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(norm(Dedup.clusters(pairs)) ==
        norm(Dedup.clusters(pairs, localEdgeThreshold = 0)),
        s"divergence on ${es.take(10)}… (${es.length} edges)")
    }
  }

  test("clusters and resolve survive an empty pairs frame (no near-dups)") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.clusters(pairs).count() == 0)
    val d = docs(1L -> base, 2L -> other)
    val resolved = Dedup.resolve(d, "doc_id", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(resolved == Set((1L, 1L, true), (2L, 2L, true)))
  }

  test("resolve: component members map to the min id, rest keep themselves") {
    import spark.implicits._
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other, 4L -> "solo text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.resolve(d, "doc_id", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 1L, true), (2L, 1L, false),
      (3L, 3L, true), (4L, 4L, true)))
  }

  test("resolveBest: highest-quality member is canonical, ties to min id") {
    import spark.implicits._
    // doc 2 is stopword-rich long prose (high heuristic score); doc 1
    // is a low-stopword token string (low score) — the cluster must
    // keep 2, the OPPOSITE of resolve's min-id rule
    val lowQ = (1 to 30).map(i => s"tok$i").mkString(" ")
    val highQ = ("the and of in to a is was for on " * 6).trim
    val d = docs(1L -> lowQ, 2L -> highQ, 3L -> "solo text")
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Dedup.resolveBest(d, "doc_id", "text", pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out == Set((1L, 2L, false), (2L, 2L, true), (3L, 3L, true)))
    // equal quality (identical text) ties break to the smallest id
    val tied = Dedup.resolveBest(docs(5L -> highQ, 6L -> highQ),
        "doc_id", "text", Seq((5L, 6L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tied == Set((5L, 5L), (6L, 5L)))
  }

  test("splitLeakageFree: a whole near-dup cluster lands in one split") {
    import spark.implicits._
    val d = docs(1L -> base, 2L -> nearDup, 3L -> other, 4L -> "solo text")
    // 1-2-3 chained into one cluster: all three must share a split even
    // though their own ids would draw different buckets
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val out = Dedup.splitLeakageFree(d, "doc_id", pairs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L))
    val clusterSplits = Set(out(1L), out(2L), out(3L))
    assert(clusterSplits.size == 1,
      s"cluster split apart: ${out.view.filterKeys(_ <= 3L).toMap}")
    assert(out(1L)._1 == 1L && out(4L)._1 == 4L)
    // the draw keys on the representative: doc 4's bucket is its own
    // md5 bucket, docs 1-3 share doc 1's
    assert(out(2L)._2 == out(1L)._2)
    assert(Set("train", "val", "test").contains(out(4L)._3))
  }

  test("minhashIncremental: flags corpus near-dups, leaves fresh docs new") {
    // corpus: base + a distinct doc; increment: a near-copy of base, an
    // exact copy of base, and a genuinely fresh doc
    val corpus = docs(1L -> base, 2L -> other)
    val incoming = docs(10L -> nearDup, 11L -> base, 12L ->
      "entirely novel text with no overlap against anything stored " * 4)
    val out = Dedup.minhashIncremental(incoming, corpus, "doc_id", "text",
        threshold = 0.3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out.size == 3)
    assert(!out(10L).getBoolean(3) && out(10L).getLong(1) == 1L) // near-dup of 1
    assert(!out(11L).getBoolean(3) && out(11L).getLong(1) == 1L) // exact dup of 1
    assert(out(11L).getDouble(2) == 1.0)
    assert(out(12L).getBoolean(3) && out(12L).isNullAt(1)) // fresh
  }

  test("minhashIncremental: best match is (jaccard desc, lowest corpus id)") {
    // two identical corpus docs both match the incoming doc at j=1.0;
    // the deterministic winner is the lower id
    val corpus = docs(5L -> base, 3L -> base, 9L -> other)
    val incoming = docs(100L -> base)
    val r = Dedup.minhashIncremental(incoming, corpus, "doc_id", "text",
      threshold = 0.3).collect().head
    assert(r.getLong(0) == 100L && r.getLong(1) == 3L &&
      r.getDouble(2) == 1.0 && !r.getBoolean(3))
  }

  test("signature store round-trips and the stored probe equals the direct one") {
    // write the corpus's signature store to parquet, read it back, and
    // probe: the persisted form must make the IDENTICAL decision the
    // text-rescanning incremental makes (hashed verify arrays intersect
    // like the string sets)
    val corpus = docs(1L -> base, 2L -> other, 3L -> "some third doc here")
    val incoming = docs(10L -> nearDup, 11L -> base, 12L ->
      "entirely new content that matches nothing stored at all " * 3)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val direct = rowsOf(Dedup.minhashIncremental(incoming, corpus,
      "doc_id", "text", threshold = 0.3))
    val tmp = java.nio.file.Files.createTempDirectory("sigstore").toString
    SignatureStore.write(SignatureStore.build(corpus, "doc_id", "text"), tmp)
    val store = SignatureStore.read(spark, tmp)
    val stored = rowsOf(Dedup.minhashIncrementalStored(incoming, store,
      "doc_id", "text", threshold = 0.3))
    assert(stored == direct)
    assert(stored.exists(r => !r._4) && stored.exists(_._4))
  }

  test("store append closes the ingest loop: day-2 near-dup of an accepted day-1 doc is caught") {
    // day 0 corpus; day 1 increment: one fresh doc (accepted), one dup
    // of the corpus (rejected); day 2 increment: a near-copy of the
    // ACCEPTED day-1 doc — it must be flagged against the APPENDED
    // store, and the appended probe must equal the direct incremental
    // over the unioned corpus
    val corpus = docs(1L -> other)
    val incA = docs(10L -> base, 11L -> other) // 10 fresh, 11 dup of 1
    val store0 = SignatureStore.build(corpus, "doc_id", "text")
    val probeA = Dedup.minhashIncrementalStored(incA, store0,
        "doc_id", "text", threshold = 0.3).collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(probeA == Map(10L -> true, 11L -> false))
    val accepted = docs(10L -> base) // the is_new survivors of probe A
    val store1 = SignatureStore.append(store0, accepted, "doc_id", "text")
    val incB = docs(20L -> nearDup, // near-copy of ACCEPTED day-1 doc 10
      21L -> other,                 // still a dup of ORIGINAL corpus doc 1
      22L -> ("wholly novel text that matches nothing anywhere stored " * 3))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val viaStore = rowsOf(Dedup.minhashIncrementalStored(incB, store1,
      "doc_id", "text", threshold = 0.3))
    // equivalence across the append: the appended store makes the same
    // decision as the direct incremental over corpus ∪ accepted
    val direct = rowsOf(Dedup.minhashIncremental(incB,
      corpus.union(accepted), "doc_id", "text", threshold = 0.3))
    assert(viaStore == direct)
    val byId = viaStore.map(r => r._1 -> r).toMap
    assert(!byId(20L)._4 && byId(20L)._2 == 10L,
      "day-2 near-dup of the accepted day-1 doc must be caught")
    assert(!byId(21L)._4 && byId(21L)._2 == 1L)
    assert(byId(22L)._4)
  }

  test("persisted appendWrite grows the store; compact heals a double append") {
    val corpus = docs(1L -> other)
    val tmp = java.nio.file.Files.createTempDirectory("sigappend").toString
    SignatureStore.write(SignatureStore.build(corpus, "doc_id", "text"), tmp)
    val inc = SignatureStore.build(docs(10L -> base), "doc_id", "text")
    SignatureStore.appendWrite(inc, tmp)
    SignatureStore.appendWrite(inc, tmp) // a retried ingest double-writes
    val dirty = SignatureStore.read(spark, tmp)
    assert(dirty.shingleHashes.filter("doc_id = 10").count() == 2)
    SignatureStore.compact(spark, tmp)
    val clean = SignatureStore.read(spark, tmp)
    assert(clean.shingleHashes.filter("doc_id = 10").count() == 1)
    assert(clean.banded.select("doc_id", "band").distinct().count() ==
      clean.banded.count(), "one row per (doc_id, band) after compact")
    // and the compacted store still probes correctly
    val r = Dedup.minhashIncrementalStored(docs(20L -> nearDup), clean,
      "doc_id", "text", threshold = 0.3).collect().head
    assert(!r.getBoolean(3) && r.getLong(1) == 10L)
  }

  test("appendSpans equals buildSpans over the unioned corpus (df bumped, not stale)") {
    val passage = "copied paragraph with enough characters to fingerprint well"
    val corpus = docs(
      1L -> s"alpha beta gamma $passage delta epsilon",
      2L -> "unrelated corpus text about spark physical plans entirely")
    val accepted = docs(3L -> s"day one accepted text containing $passage too")
    // the span append: the accepted docs' winnow rows merged as deltas
    val appended = SignatureStore.mergeSpanDeltas(
      SignatureStore.buildSpans(corpus, "doc_id", "text", k = 8, w = 4),
      SignatureStore.spanDeltaRows(accepted, "doc_id", "text", k = 8, w = 4))
    val rebuilt = SignatureStore.buildSpans(corpus.union(accepted),
      "doc_id", "text", k = 8, w = 4)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(rowsOf(appended) == rowsOf(rebuilt))
    // the shared passage's fps must carry df=2 on BOTH docs' rows —
    // the stale-df hazard the bump exists for
    assert(appended.filter("df >= 2").count() > 0)
  }

  test("appendSpans closes the span ingest loop: day-2 passage reuse of an accepted day-1 doc is caught") {
    val passage = "copied paragraph with enough characters to fingerprint well"
    val corpus = docs(1L -> "unrelated corpus text about spark physical plans entirely")
    val incA = docs(10L -> s"day one accepted text containing $passage too")
    val store0 = SignatureStore.buildSpans(corpus, "doc_id", "text",
      k = 8, w = 4)
    val probeA = Dedup.spanIncrementalStored(incA, store0, "doc_id", "text",
        k = 8, w = 4, minShared = 5, maxDf = 16).collect()
    assert(probeA.forall(_.getBoolean(3)), "day-1 doc must be accepted")
    val store1 = SignatureStore.mergeSpanDeltas(store0,
      SignatureStore.spanDeltaRows(incA, "doc_id", "text", k = 8, w = 4))
    val incB = docs(20L -> s"day two re-serving $passage inside other words",
      21L -> "wholly fresh prose sharing no long passage with anything")
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val viaStore = rowsOf(Dedup.spanIncrementalStored(incB, store1,
      "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16))
    val direct = rowsOf(Dedup.spanIncremental(incB, corpus.union(incA),
      "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16))
    assert(viaStore == direct)
    val byId = viaStore.map(r => r._1 -> r).toMap
    assert(!byId(20L)._4 && byId(20L)._2 == 10L,
      "day-2 passage reuse of the accepted day-1 doc must be caught")
    assert(byId(21L)._4)
  }

  test("span delta path: appendSpansWrite + delta probe == in-memory append == direct; compactSpans heals") {
    val passage = "copied paragraph with enough characters to fingerprint well"
    val corpus = docs(1L -> "unrelated corpus text about spark physical plans entirely")
    val incA = docs(10L -> s"day one accepted text containing $passage too")
    val incB = docs(20L -> s"day two re-serving $passage inside other words",
      21L -> "wholly fresh prose sharing no long passage with anything")
    val tmp = java.nio.file.Files.createTempDirectory("spandelta").toString
    SignatureStore.writeSpans(
      SignatureStore.buildSpans(corpus, "doc_id", "text", k = 8, w = 4), tmp)
    // day 1: append accepted docs as bare deltas — NO store rewrite
    SignatureStore.appendSpansWrite(incA, tmp, "doc_id", "text", k = 8, w = 4)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3)))
      .sortBy(_._1).toSeq
    val viaDelta = rowsOf(Dedup.spanIncrementalStoredDelta(incB,
      SignatureStore.readSpans(spark, tmp),
      SignatureStore.readSpanDeltas(spark, tmp),
      "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16))
    val direct = rowsOf(Dedup.spanIncremental(incB, corpus.union(incA),
      "doc_id", "text", k = 8, w = 4, minShared = 5, maxDf = 16))
    assert(viaDelta == direct)
    val byId = viaDelta.map(r => r._1 -> r).toMap
    assert(!byId(20L)._4 && byId(20L)._2 == 10L,
      "day-2 reuse of the delta-appended day-1 doc must be caught")
    assert(byId(21L)._4)
    // compaction folds the deltas into the denormalized base: the
    // healed store equals buildSpans of the union, the delta dir is
    // gone, and the single-scan probe agrees
    SignatureStore.compactSpans(spark, tmp)
    assert(SignatureStore.readSpanDeltas(spark, tmp).count() == 0)
    def storeRows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(storeRows(SignatureStore.readSpans(spark, tmp)) ==
      storeRows(SignatureStore.buildSpans(corpus.union(incA),
        "doc_id", "text", k = 8, w = 4)))
    assert(rowsOf(Dedup.spanIncrementalStored(incB,
      SignatureStore.readSpans(spark, tmp), "doc_id", "text",
      k = 8, w = 4, minShared = 5, maxDf = 16)) == direct)
  }

  test("span delta probe: a fp boilerplate in the BASE suppresses delta rows too") {
    // base df > maxDf hides the fp's rows from the pushed candidate
    // scan; the unfiltered base-df lookup must still suppress the
    // DELTA rows carrying that fp — the subtle branch of the lazy
    // effective-df derivation
    val passage = "copied paragraph with enough characters to fingerprint well"
    // 5 corpus docs all carrying the passage: its fps have base df = 5
    val corpus = docs((1L to 5L).map(i =>
      i -> s"corpus doc number $i padding words $passage trailing text"): _*)
    val delta = docs(10L -> s"day one delta also containing $passage here")
    val incB = docs(20L -> s"probe doc re-serving $passage once more")
    val base = SignatureStore.buildSpans(corpus, "doc_id", "text",
      k = 8, w = 4)
    val deltas = SignatureStore.spanDeltaRows(delta, "doc_id", "text",
      k = 8, w = 4)
    // cap at 4: base df (5) already exceeds it, so NOTHING may match —
    // not the base rows (pushed filter) and not the delta rows (lazy
    // lookup); a probe that derives delta-row df from the FILTERED
    // base scan would wrongly flag 20 -> 10
    val out = Dedup.spanIncrementalStoredDelta(incB, base, deltas,
        "doc_id", "text", k = 8, w = 4, minShared = 3, maxDf = 4)
      .collect()
    assert(out.length == 1 && out.head.getBoolean(3),
      s"boilerplate fp must stay suppressed through the delta path: ${out.toSeq}")
    // sanity: with the cap above the true effective df (5 + 1 = 6) the
    // match IS found, and the decision equals the text-rescanning
    // direct form over corpus ∪ delta
    val loose = Dedup.spanIncrementalStoredDelta(incB, base, deltas,
        "doc_id", "text", k = 8, w = 4, minShared = 3, maxDf = 16)
      .collect().head
    val directLoose = Dedup.spanIncremental(incB, corpus.union(delta),
        "doc_id", "text", k = 8, w = 4, minShared = 3, maxDf = 16)
      .collect().head
    assert(!loose.getBoolean(3) &&
      loose.getLong(1) == directLoose.getLong(1) &&
      loose.getLong(2) == directLoose.getLong(2))
  }

  test("hammingIncremental: near fingerprint flagged with best match, far one stays new") {
    import spark.implicits._
    val corpus = Seq((1L, 0x0F0F0F0F0F0F0F0FL), (2L, 0x1234567812345678L))
      .toDF("media_id", "dhash")
    val inc = Seq(
      (10L, 0x0F0F0F0F0F0F0F0EL), // hamming 1 from corpus 1
      (11L, 0x1234567812345678L), // hamming 0 from corpus 2
      (12L, -1L))                 // far from both
      .toDF("media_id", "dhash")
    val out = Dedup.hammingIncremental(inc, corpus, "media_id", "dhash",
        maxHamming = 3).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(3))).toMap
    assert(out == Map(10L -> (1L, false), 11L -> (2L, false),
      12L -> (-1L, true)))
    // plan shape: the corpus probe is broadcast joins only — the
    // corpus side never shuffles
    val p = Dedup.hammingIncremental(inc, corpus, "media_id", "dhash")
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("pairNearDupIncremental: drop iff BOTH sides match the SAME prior pair") {
    import spark.implicits._
    val t = (i: Int) => s"pair caption number $i with plenty of distinct " +
      s"filler words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
    val rng = new scala.util.Random(7)
    val fps = Array.fill(10)(rng.nextLong())
    val corTexts = (0 until 10).map(i => (i.toLong, t(i)))
      .toDF("doc_id", "text")
    val corFps = (0 until 10).map(i => (i.toLong, fps(i)))
      .toDF("media_id", "dhash")
    // 100: both sides dup pair 3 -> DROPPED against 3
    // 101: text dups pair 4, image fresh -> KEPT (text-only)
    // 102: text fresh, image dups pair 5 (hamming 1) -> KEPT (media-only)
    // 103: text dups pair 6, image dups pair 7 (DIFFERENT priors) -> KEPT
    // 104: fresh both -> KEPT
    // 100's caption is an EXACT re-post (the common LAION case) so the
    // text-side catch is banding-guaranteed; 103 exercises jaccard<1
    // via the id-suffix difference in t(i) itself
    val incTexts = Seq(
      (100L, t(3)), (101L, t(4)),
      (102L, "totally fresh caption with nothing shared at all qq ww ee rr tt yy"),
      (103L, t(6)), (104L, "another novel caption entirely unlike the corpus aa bb cc dd ee ff"))
      .toDF("doc_id", "text")
    val incFps = Seq(
      (100L, fps(3)), (101L, rng.nextLong()),
      (102L, fps(5) ^ 1L), (103L, fps(7)), (104L, rng.nextLong()))
      .toDF("media_id", "dhash")
    val out = Dedup.pairNearDupIncremental(incTexts, corTexts, incFps,
        corFps, "doc_id", "text", "media_id", "dhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(4))).toMap
    assert(out(100L) == (3L, false), s"both-sides twin must drop: $out")
    assert(out(101L) == (-1L, true), s"text-only match must survive: $out")
    assert(out(102L) == (-1L, true), s"media-only match must survive: $out")
    assert(out(103L) == (-1L, true),
      s"matches against DIFFERENT priors must survive: $out")
    assert(out(104L) == (-1L, true), s"fresh pair must survive: $out")
    assert(out.size == 5)
  }

  test("pairNearDupStored decides identically to the in-DAG pair rule") {
    import spark.implicits._
    val t = (i: Int) => s"pair caption number $i with plenty of distinct " +
      s"filler words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
    val rng = new scala.util.Random(7)
    val fps = Array.fill(10)(rng.nextLong())
    val corTexts = (0 until 10).map(i => (i.toLong, t(i)))
      .toDF("doc_id", "text")
    val corFps = (0 until 10).map(i => (i.toLong, fps(i)))
      .toDF("media_id", "dhash")
    val incTexts = Seq((100L, t(3)), (101L, t(4)),
      (102L, "totally fresh caption with nothing shared at all qq ww ee"))
      .toDF("doc_id", "text")
    val incFps = Seq((100L, fps(3)), (101L, rng.nextLong()),
      (102L, fps(5) ^ 1L)).toDF("media_id", "dhash")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1.0 else r.getDouble(2),
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(4)))
      .sortBy(_._1).toSeq
    val direct = rows(Dedup.pairNearDupIncremental(incTexts, corTexts,
      incFps, corFps, "doc_id", "text", "media_id", "dhash"))
    val stored = rows(Dedup.pairNearDupStored(incTexts,
      SignatureStore.build(corTexts, "doc_id", "text", 3, 8, 2),
      incFps, corFps, "doc_id", "text", "media_id", "dhash"))
    assert(stored == direct)
    assert(direct.exists(r => r._1 == 100L && r._2 == 3L && !r._5),
      s"the both-sides pair must drop in both forms: $direct")
  }

  test("pair A/B loop: a B pair duplicating an ACCEPTED A pair on both " +
      "sides drops cross-increment; one-sided B matches survive") {
    import spark.implicits._
    // the pair_neardup_probe_updated contract: accepted day-1 pairs
    // append to BOTH stores; day-2 probes the grown stores. Planted
    // text twins are EXACT copies (one added shingle can own all 16
    // affine-minhash slots — banding-guaranteed catches need identity)
    val t = (i: Int) => s"pair caption number $i with plenty of distinct " +
      s"filler words alpha$i beta$i gamma$i delta$i epsilon$i zeta$i"
    val rng = new scala.util.Random(11)
    val fps = Array.fill(10)(rng.nextLong())
    val corTexts = (0 until 10).map(i => (i.toLong, t(i)))
      .toDF("doc_id", "text")
    val corFps = (0 until 10).map(i => (i.toLong, fps(i)))
      .toDF("media_id", "dhash")
    val store0 = SignatureStore.build(corTexts, "doc_id", "text", 3, 8, 2)
    // increment A: 200 fresh-both (ACCEPTED); 201 = both-sides copy of
    // corpus pair 3 (REJECTED)
    val aText = "day one brand new caption with original words uu vv ww xx yy zz"
    val aFp = rng.nextLong()
    val incTextsA = Seq((200L, aText), (201L, t(3)))
      .toDF("doc_id", "text")
    val incFpsA = Seq((200L, aFp), (201L, fps(3)))
      .toDF("media_id", "dhash")
    val probeA = Dedup.pairNearDupStored(incTextsA, store0, incFpsA,
      corFps, "doc_id", "text", "media_id", "dhash")
    val accIds = probeA.filter(org.apache.spark.sql.functions.col("is_new"))
      .select(org.apache.spark.sql.functions.col("doc_id"))
    assert(accIds.collect().map(_.getLong(0)).toSet == Set(200L),
      "layer A: 200 accepted, 201 rejected against the corpus")
    val store1 = SignatureStore.append(store0,
      incTextsA.join(accIds, "doc_id"), "doc_id", "text", 3, 8, 2)
    val corFps1 = corFps.unionByName(incFpsA.join(
      accIds.withColumnRenamed("doc_id", "media_id"), "media_id"))
    // increment B: 300 = both-sides copy of ACCEPTED 200 -> drops
    // against 200 (only reachable through the append); 301 = text of
    // 200 + fresh image -> survives; 302 = image of 200 (hamming 1) +
    // fresh text -> survives
    val incTextsB = Seq((300L, aText), (301L, aText),
      (302L, "entirely different day two caption kk ll mm nn oo pp"))
      .toDF("doc_id", "text")
    val incFpsB = Seq((300L, aFp), (301L, rng.nextLong()),
      (302L, aFp ^ 1L)).toDF("media_id", "dhash")
    val out = Dedup.pairNearDupStored(incTextsB, store1, incFpsB,
        corFps1, "doc_id", "text", "media_id", "dhash").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1),
        r.getBoolean(4))).toMap
    assert(out(300L) == (200L, false),
      s"cross-increment both-sides twin must drop against the accepted A pair: $out")
    assert(out(301L) == (-1L, true),
      s"text-only match of an accepted A pair must survive: $out")
    assert(out(302L) == (-1L, true),
      s"image-only match of an accepted A pair must survive: $out")
  }

  test("minhashIncremental agrees with batch LSH over the union corpus") {
    // the incremental probe must reproduce exactly the inc-corpus pairs
    // the BATCH operator finds on incoming ∪ corpus (restricted to
    // cross pairs; bucket caps lifted so both see identical buckets)
    val corpus = docs(1L -> base, 2L -> other, 3L -> "some unrelated words here")
    val incoming = docs(10L -> nearDup, 11L -> base,
      12L -> ("fresh text that should match nothing in the store " * 3))
    val batchPairs = Dedup.minhashLsh(
        corpus.union(incoming), "doc_id", "text",
        threshold = 0.3, maxBucket = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a < 10) != (b < 10) } // cross pairs only
      .map { case (a, b) => if (a < 10) (b, a) else (a, b) } // (inc, corp)
      .toSet
    val incDups = Dedup.minhashIncremental(incoming, corpus, "doc_id",
        "text", threshold = 0.3, maxBucket = 1000)
      .collect().filter(!_.getBoolean(3))
      .map(r => r.getLong(0)).toSet
    assert(incDups == batchPairs.map(_._1))
    // and each flagged doc's dup_of is one of its batch counterparts
    val best = Dedup.minhashIncremental(incoming, corpus, "doc_id",
        "text", threshold = 0.3, maxBucket = 1000)
      .collect().filter(!_.getBoolean(3))
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(best.subsetOf(batchPairs))
  }

  test("ngram jaccard inverted-index join matches brute-force definition") {
    val df = docs(1L -> base, 2L -> nearDup, 3L -> other)
    val rows = Dedup.ngramJaccard(df, "doc_id", "text",
      shingleSize = 3, threshold = 0.0).collect()
    // only co-shingled pairs appear at all
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    val r = rows.head
    // brute-force jaccard over distinct word-3-grams
    def sh(s: String) = s.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .sliding(3).map(_.mkString(" ")).toSet
    val (a, b) = (sh(base), sh(nearDup))
    val expected = a.intersect(b).size.toDouble / a.union(b).size
    assert(math.abs(r.getDouble(3) - expected) < 1e-6)
  }
}
