package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The BPE tokenizer fixture: trainer determinism, kernel ≡ reference
  * encoder (the executable spec the DuckDB oracle's recursive CTE also
  * replays), and the Column expression end to end.
  */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("trainer is deterministic and yields a full merge table") {
    val m1 = BpeVocab.train(BpeVocab.sample, BpeVocab.numMerges)
    val m2 = BpeVocab.train(BpeVocab.sample, BpeVocab.numMerges)
    assert(m1 == m2)
    assert(m1 == BpeVocab.merges)
    // the embedded sample must support the requested merge count — a
    // short sample would silently shrink the vocabulary
    assert(m1.size == BpeVocab.numMerges, s"only ${m1.size} merges trained")
    assert(m1.distinct.size == m1.size, "duplicate merge pair emitted")
  }

  test("distributed trainer learns the same merges as the local trainer") {
    import spark.implicits._
    // split the embedded sample across documents: the word-frequency
    // table is identical, so the learned tables must be identical —
    // the distributed path is ONE count aggregate + TakeOrdered into
    // the same trainFromCounts loop
    val lines = BpeVocab.sample.split("\n").filter(_.trim.nonEmpty)
    val docs = lines.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toSeq.toDF("doc_id", "text")
    val dist = graft.textops.BpeTrainer.train(docs, "text", numMerges = 80)
    val local = BpeVocab.train(BpeVocab.sample, 80)
    assert(dist == local)
  }

  test("distributed trainer matches local trainer on MIXED-CASE text") {
    import spark.implicits._
    // both paths lowercase before counting (the one shared
    // normalization); a case-split corpus — "The"/"the"/"THE" — must
    // merge into one word-frequency row on each side or the
    // distributed-equals-local guarantee silently breaks
    val raw = "The Pipeline Prepares THE data and the pipeline " +
      "Repeats THE preparation For the Data"
    val docs = raw.split(" and ").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
    val dist = graft.textops.BpeTrainer.train(docs, "text", numMerges = 10)
    val local = BpeVocab.train(raw.replace(" and ", " \n "), 10)
    assert(dist == local)
    assert(dist.nonEmpty)
  }

  test("distributed trainer: maxVocab truncates the tail, not the head") {
    import spark.implicits._
    // 100 copies of a hot word + singleton tail words: with the vocab
    // cap at 2 the hot words' pair survives, the tail never counts
    val docs = ((1 to 100).map(i => (i.toLong, "abab cdcd")) ++
      Seq((200L, "xy"), (201L, "zq")))
      .toDF("doc_id", "text")
    val merges = graft.textops.BpeTrainer.train(docs, "text",
      numMerges = 4, maxVocab = 2)
    // pairs inside abab/cdcd dominate; xy/zq (freq 1 each, outside the
    // top-2 vocab) contribute nothing
    assert(merges.nonEmpty)
    assert(!merges.contains(("x", "y")) && !merges.contains(("z", "q")))
  }

  test("byte-level pre-encoder: GPT-2 map invariants, ASCII-identical metering, per-byte multi-byte symbols") {
    import spark.implicits._
    // the public bytes_to_unicode map: 256 distinct code points,
    // printable bytes map to themselves, space maps to U+0120 (Ġ —
    // the leading-space marker every GPT-2-family vocab is full of)
    val m = BpeVocab.byteToUnicode
    assert(m.size == 256 && m.distinct.size == 256)
    assert(m('A'.toInt) == 'A'.toInt && m('~'.toInt) == '~'.toInt)
    assert(m(0xFF) == 0xFF && m(32) == 0x120)
    val df = Seq((1L, "the quick fox"), (2L, "café"), (3L, "№"))
      .toDF("doc_id", "text")
    def counts(c: org.apache.spark.sql.Column) = df.select(col("doc_id"), c)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = counts(Kernels.bpeCount(col("text"), BpeVocab.merges).as("n"))
    val bytes = counts(
      Kernels.bpeCount(col("text"), BpeVocab.merges, byteLevel = true).as("n"))
    // pure ASCII meters identically (bytes ≡ code points there)
    assert(plain(1L) == bytes(1L))
    // é is 2 UTF-8 bytes (1 code point): +1 unmergeable symbol;
    // № is 3 bytes (1 code point): +2
    assert(bytes(2L) == plain(2L) + 1)
    assert(bytes(3L) == plain(3L) + 2)
  }

  test("common sample words compress to few tokens, rare words to many") {
    val enc = (w: String) => BpeVocab.encodeReference(w, BpeVocab.merges)
    assert(enc("the") == Seq("the"))
    val c = enc("corpus")
    assert(c.mkString("") == "corpus")
    assert(c.length < "corpus".length)
    // a word with no sample support stays near character-granularity
    assert(enc("qqqq").length >= 3)
  }

  /** Boundary fixtures shared with the gate-kernel spec's philosophy:
    * whitespace variety, empties, multi-byte scripts, astral plane,
    * long repeats, plus words from the training sample itself.
    */
  private val words = Seq(
    "", "the", "and", "tokenizer", "deduplication", "xyz", "a",
    "café", "的是了", "😀😀", "İstanbul",
    "supercalifragilisticexpialidocious",
    "thethethethe", "aaaa", "qqqq", "e", "er", "ing",
    "documents", "pipeline", "cluster", "zzz-punct!mix")

  test("kernel wordCount equals the reference encoder") {
    val ranks = BpeKernelUtil.buildRanks(BpeVocab.merges)
    for (w <- words) {
      val ref = BpeVocab.encodeReference(w, BpeVocab.merges)
      assert(ref.mkString("") == w, s"encoder lost content on '$w'")
      assert(BpeKernelUtil.wordCount(w, ranks) == ref.length,
        s"kernel diverged on '$w'")
    }
  }

  test("docCount splits on the same whitespace as the gate kernel") {
    val ranks = BpeKernelUtil.buildRanks(BpeVocab.merges)
    def wc(w: String) = BpeKernelUtil.wordCount(w, ranks).toLong
    val docs = Seq(
      "" -> 0L,
      "   \t\n " -> 0L,
      "the" -> 1L,
      "the the\tthe\nthe" -> 4L,
      "  leading and trailing  " ->
        (wc("leading") + wc("and") + wc("trailing")),
      // NBSP is NOT Java-regex whitespace: 'a b' is ONE word
      "a b c" -> (BpeKernelUtil.wordCount("a b", ranks).toLong + 1L))
    for ((text, want) <- docs)
      assert(BpeKernelUtil.docCount(
        org.apache.spark.unsafe.types.UTF8String.fromString(text), ranks) == want,
        s"docCount diverged on '$text'")
  }

  test("Column expression equals per-word reference sums on a frame") {
    import spark.implicits._
    val texts = Seq(
      "the training corpus for a large language model",
      "every document in the collection is scored",
      "qqqq zzzz unseen-words here",
      "café 的是了 😀 mixed scripts",
      "",
      "the " * 50)
    val got = texts.toDF("text")
      .select(graft.textops.TextOps.bpeTokenCount(col("text")).as("n"))
      .as[Long].collect().toSeq
    val want = texts.map(t =>
      t.split("[ \t\n\f\r]+").filter(_.nonEmpty)
        .map(w => BpeVocab.encodeReference(w, BpeVocab.merges).length.toLong)
        .sum)
    assert(got == want)
  }

  test("merges.txt round-trips: toFile then fromFile preserves the table") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe").toString
    val path = s"$dir/merges.txt"
    BpeVocab.toFile(BpeVocab.merges, path)
    assert(BpeVocab.fromFile(path) == BpeVocab.merges)
    // the written artifact is the standard format: version header +
    // one space-separated pair per line
    val lines = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(path))
    assert(lines.get(0).startsWith("#version:"))
    assert(lines.size == BpeVocab.merges.size + 1)
  }

  test("fromFile parses a hand-written external table; rejects malformed rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe2").toString
    val path = s"$dir/ext_merges.txt"
    // a NON-fixture vocabulary in the standard format, with the header,
    // blank lines, and a comment — all of which real files contain
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      "#version: 0.2\nt h\nth e\n\n# boundary\ne r\n".getBytes("UTF-8"))
    val ext = BpeVocab.fromFile(path)
    assert(ext == Seq(("t", "h"), ("th", "e"), ("e", "r")))
    // segmentation under the external table: "there" = th+e merged,
    // then r,e with only (e,r) unavailable mid-word after "the"
    assert(BpeVocab.encodeReference("there", ext) == Seq("the", "r", "e"))
    assert(BpeKernelUtil.wordCount("there",
      BpeKernelUtil.buildRanks(ext)) == 3)
    val bad = s"$dir/bad.txt"
    java.nio.file.Files.write(java.nio.file.Paths.get(bad),
      "a b c\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](BpeVocab.fromFile(bad))
  }

  test("external table threads through the Column kernel and budget counter") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe3").toString
    val path = s"$dir/merges.txt"
    // the fixture's first 100 merges as the "external" vocabulary — a
    // genuinely coarser table (greedy training makes any prefix a valid
    // standalone vocabulary), same artifact bpe_tokens_ext registers
    BpeVocab.toFile(BpeVocab.merges.take(100), path)
    val ext = BpeVocab.fromFile(path)
    val texts = Seq(
      "the training corpus for a large language model",
      "deduplication statistics distribution")
    val got = texts.toDF("text")
      .select(graft.textops.TextOps.bpeTokenCount(col("text"), ext).as("n"))
      .as[Long].collect().toSeq
    val want = texts.map(t =>
      t.split("\\s+").filter(_.nonEmpty)
        .map(w => BpeVocab.encodeReference(w, ext).length.toLong).sum)
    assert(got == want)
    // and it is NOT the fixture segmentation: fewer merges => at least
    // as many tokens, strictly more somewhere in these texts
    val fix = texts.toDF("text")
      .select(graft.textops.TextOps.bpeTokenCount(col("text")).as("n"))
      .as[Long].collect().toSeq
    assert(got.zip(fix).forall { case (e, f) => e >= f })
    assert(got.sum > fix.sum, "100-merge table should segment finer somewhere")
  }
}
