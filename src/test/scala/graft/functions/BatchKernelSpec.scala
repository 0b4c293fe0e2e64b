package graft.functions

import graft.TestSpark
import graft.simops.Similarity
import graft.textops.TextOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The batch kernels must be BIT-IDENTICAL to the Column-expression forms
  * they replaced — those forms are what the DuckDB oracles mirror, so any
  * divergence here is an oracle break waiting to happen at verify time.
  */
class BatchKernelSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def docs: DataFrame = {
    import spark.implicits._
    Seq(
      "the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat",
      "a",                          // fewer tokens than any shingle size
      "",                           // empty text
      "  padded   whitespace  runs   here ",
      "répétition déjà vu œuvre — ünïcode tëst",
      "的 是 了 在 和 有 我 不 这 他", // multi-byte chars
      "dup dup dup dup dup dup",    // heavy shingle duplication
      ("lorem ipsum dolor sit amet " * 20).trim
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def toks = TextOps.tokens(lower(col("text")))

  test("WordShinglesExpr == array_distinct/array_join HOF form") {
    for (n <- Seq(1, 2, 3, 5)) {
      val both = docs.select(col("doc_id"), toks.as("_t"))
        .select(
          TextOps.shinglesFromTokens(col("_t"), n).as("k"),
          TextOps.shinglesFromTokensExpanded(col("_t"), n).as("e"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[String](0) == r.getSeq[String](1), s"n=$n")
      }
    }
  }

  test("WordKgramXxExpr == string-tokenized reference fold") {
    import org.apache.spark.unsafe.types.UTF8String
    // independent path: regex tokenization on String, xx64 of each
    // token re-encoded through UTF8String, then the same LCG fold
    def ref(text: String, k: Int): Seq[Long] = {
      val ts = text.split("[ \t\n\u000B\f\r]+").filter(_.nonEmpty)
      if (ts.length < k) Seq.empty
      else {
        val th = ts.map { t =>
          val u = UTF8String.fromString(t)
          org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
        }
        (0 to ts.length - k).map { s =>
          var acc = 42L
          for (j <- 0 until k) acc = acc * 6364136223846793005L + th(s + j)
          acc
        }
      }
    }
    for (k <- Seq(1, 2, 5)) {
      val rows = docs.select(col("text"),
        Kernels.wordKgramXx(col("text"), k).as("g")).collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](1) == ref(r.getString(0), k),
          s"k=$k text='${r.getString(0)}'")
      }
    }
  }

  test("MinHashSigExpr == staged md5/conv/zip_with form") {
    val staged = docs.select(col("doc_id"), toks.as("_t"))
      .select(col("doc_id"), TextOps.shinglesFromTokens(col("_t"), 3).as("sh"))
      .select(col("doc_id"), transform(col("sh"), s => md5(s)).as("_m"))
      .select(col("doc_id"),
        transform(col("_m"),
          m => conv(substring(m, 1, 15), 16, 10).cast("long")).as("_h1"),
        transform(col("_m"),
          m => conv(substring(m, 17, 14), 16, 10).cast("long")).as("_h2"))
      .select(col("doc_id"),
        graft.dedup.Dedup.minhashSignatureFromHalves(
          col("_h1"), col("_h2"), 16).as("sig"))
    val kernel = docs.select(col("doc_id"), toks.as("_t"))
      .select(col("doc_id"), TextOps.shinglesFromTokens(col("_t"), 3).as("sh"))
      .select(col("doc_id"), Kernels.minhashSig(col("sh"), 16).as("sig"))
    val s = staged.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    val k = kernel.orderBy("doc_id").collect().map(_.getSeq[Long](1))
    assert(s.toSeq.map(_.toSeq) == k.toSeq.map(_.toSeq))
  }

  test("XxSortedHashesExpr == array_sort(transform(xxhash64)) form") {
    val both = docs.select(col("doc_id"), toks.as("_t"))
      .select(col("doc_id"), TextOps.shinglesFromTokens(col("_t"), 3).as("sh"))
      .select(
        Kernels.xxSortedHashes(col("sh")).as("k"),
        array_sort(transform(col("sh"), s => xxhash64(s))).as("e"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("KgramHashesExpr == transform(sequence)/md5/conv form") {
    for (k <- Seq(3, 8)) {
      val both = docs
        .select(
          Kernels.kgramHashes(col("text"), k).as("k"),
          TextOps.kgramHashesExpanded(col("text"), k).as("e"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"k=$k")
      }
    }
  }

  test("DsirBucketsExpr == explode/md5Bucket HOF form") {
    for (b <- Seq(16, 10000)) {
      val both = docs
        .select(
          Kernels.dsirBuckets(lower(col("text")), b).as("k"),
          graft.textops.Classifier
            .dsirBucketsViaColumns(lower(col("text")), b).as("e"))
        .collect()
      both.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](1), s"b=$b")
      }
    }
  }

  test("HyperplaneSigExpr == per-plane when/dot form") {
    import spark.implicits._
    val rng = new scala.util.Random(7)
    val vecs = (0 until 64).map { i =>
      (i.toLong, Array.fill(16)(rng.nextFloat() * 2 - 1))
    }.toDF("id", "v")
    val planes = Similarity.hyperplanes(numPlanes = 64, dim = 16)
    val both = vecs.select(
      Similarity.lshSignature(col("v"), planes).as("k"),
      Similarity.lshSignatureExpanded(col("v"), planes).as("e")).collect()
    both.foreach { r => assert(r.getLong(0) == r.getLong(1)) }
  }

  // ---- the kernel table's contract, one case per row ----

  /** Every input type a kernel takes, with NULLs: row 4 is all NULL,
    * row 5 nulls only the scalar and code columns. RDD-backed, so no
    * projection over it is folded into a local relation on the driver.
    */
  private def inputs: DataFrame = {
    import spark.implicits._
    val local = Seq[(Int, Option[String], Option[Seq[String]], Option[Seq[Float]],
        Option[Seq[Double]], Option[Long], Option[Double], Option[Int],
        Option[Seq[Int]])](
      (1, Some("the quick brown fox jumps over the lazy dog"),
        Some(Seq("the", "quick", "brown", "the", null)),
        Some(Seq(0.5f, -1f, 2f, 0.1f)), Some(Seq(0.5, -1.0, 2.0, 0.1)),
        Some(7L), Some(1.5), Some(0), Some(Seq(0, 1))),
      (2, Some("<p>la maison est la belle maison du village</p><div>a</div>"),
        Some(Seq("le", "la", "la", "maison")),
        Some(Seq(-0.3f, 0.2f, 0f, 1f)), Some(Seq(-0.3, 0.2, 0.0, 1.0)),
        Some(-3L), Some(-2.0), Some(1), Some(Seq(1, 0))),
      (3, Some(""), Some(Seq()), Some(Seq(0f, 0f, 0f, 0f)),
        Some(Seq(0.0, 0.0, 0.0, 0.0)), Some(0L), Some(0.0), Some(1),
        Some(Seq(0, 0))),
      (4, None, None, None, None, None, None, None, None),
      (5, Some("a b"), Some(Seq("a", "b")), Some(Seq(1f, 1f, 1f, 1f)),
        Some(Seq(1.0, 1.0, 1.0, 1.0)), None, None, None, None)
    ).toDF("id", "text", "toks", "fv", "dv", "fp", "x", "m", "codes")
    spark.createDataFrame(local.rdd, local.schema)
  }

  /** Non-NULL stand-ins: over them every kernel's result is non-nullable. */
  private val filled: Map[String, Column] = Map(
    "text" -> lit(""), "toks" -> typedLit(Seq.empty[String]),
    "fv" -> typedLit(Seq(0f, 0f, 0f, 0f)),
    "dv" -> typedLit(Seq(0.0, 0.0, 0.0, 0.0)), "fp" -> lit(0L),
    "x" -> lit(0.0), "m" -> lit(0), "codes" -> typedLit(Seq(0, 0)))

  private val planes = Similarity.hyperplanes(numPlanes = 8, dim = 4)
  private val cents = Array(Array(1.0, 0.0, 0.0, 0.0), Array(0.0, 1.0, 1.0, 0.0))
  private val codes = Array(Array(0, 1), Array(0, 1))
  private val books = Array(
    Array(Array(0.0, 0.0), Array(1.0, -1.0)),
    Array(Array(0.5, 0.5), Array(-1.0, 1.0)))
  private val subCents = Array(Array(Array(1.0, 0.0, 0.0, 0.0),
    Array(0.0, 1.0, 0.0, 0.0)), Array(Array(0.0, 0.0, 1.0, 0.0)))
  private val subIds = Array(Array(0, 1), Array(3))
  private val bloom = {
    val b = org.apache.spark.util.sketch.BloomFilter.create(100)
    b.putLong(7L); b
  }
  private def arr(t: DataType, nulls: Boolean = false) = ArrayType(t, nulls)

  /** (row, input columns, builder, the result type the row's deleted
    * expression class declared). Built through the public builders, so
    * every `require` and driver-side fold is on the path.
    */
  private val contract: Seq[(Kernel, Seq[String], (String => Column) => Column,
      DataType)] = Seq(
    (Kernels.MinhashSig, Seq("toks"), c => Kernels.minhashSig(c("toks"), 4),
      arr(LongType, nulls = true)),
    (Kernels.XxSortedHashes, Seq("toks"),
      c => Kernels.xxSortedHashes(c("toks")), arr(LongType)),
    (Kernels.KgramHashes, Seq("text"), c => Kernels.kgramHashes(c("text"), 3),
      arr(LongType)),
    (Kernels.DsirBuckets, Seq("text"), c => Kernels.dsirBuckets(c("text"), 16),
      arr(LongType)),
    (Kernels.WinnowFps, Seq("text"), c => Kernels.winnowFps(c("text"), 3, 4),
      arr(LongType)),
    (Kernels.WordKgramXx, Seq("text"), c => Kernels.wordKgramXx(c("text"), 2),
      arr(LongType)),
    (Kernels.CharKgramXx, Seq("text"), c => Kernels.charKgramXx(c("text"), 3),
      arr(LongType)),
    (Kernels.WordShingles, Seq("toks"),
      c => Kernels.wordShingles(c("toks"), 2), arr(StringType)),
    (Kernels.HyperplaneSig, Seq("fv"),
      c => Kernels.hyperplaneSig(c("fv"), planes), LongType),
    (Kernels.CentroidSims, Seq("dv"),
      c => Kernels.centroidSims(c("dv"), cents), arr(DoubleType)),
    (Kernels.BloomContains, Seq("fp"),
      c => Kernels.bloomContains(c("fp"), bloom), BooleanType),
    (Kernels.PqCodes, Seq("dv"), c => Kernels.pqCodes(c("dv"), codes, books),
      arr(IntegerType)),
    (Kernels.PqErr, Seq("dv"), c => Kernels.pqErr(c("dv"), books), DoubleType),
    (Kernels.PqAssign, Seq("dv", "m"),
      c => Kernels.pqAssign(c("dv"), c("m"), codes, books), IntegerType),
    (Kernels.PqAdc, Seq("dv", "codes"),
      c => Kernels.pqAdc(c("dv"), c("codes"), codes, books), DoubleType),
    (Kernels.SubNearest, Seq("dv", "m"),
      c => Kernels.subNearest(c("dv"), c("m"), subCents, subIds), IntegerType),
    (Kernels.CountBelow, Seq("x", "dv"),
      c => Kernels.countBelow(c("x"), c("dv")), IntegerType),
    (Kernels.TextGateStats, Seq("text"),
      c => Kernels.textGateStats(c("text"), Seq("the", "la", "a")),
      StructType(Seq("n_tokens", "n_chars", "n_punct", "n_stop").map(
        StructField(_, IntegerType, nullable = false)))),
    (Kernels.WordNgrams, Seq("toks"), c => Kernels.wordNgrams(c("toks"), 2),
      arr(StringType)),
    (Kernels.NgramXxSet, Seq("toks"), c => Kernels.ngramXxSet(c("toks"), 2),
      arr(LongType)),
    (Kernels.WordCounts, Seq("toks"), c => Kernels.wordCounts(c("toks")),
      arr(StructType(Seq(
        StructField("term", StringType, nullable = false),
        StructField("tf", LongType, nullable = false))))),
    (Kernels.LangId, Seq("text"), c => Kernels.langId(c("text"),
      Seq("en" -> Seq("the", "a"), "fr" -> Seq("la", "le"))), StringType),
    (Kernels.BpeCount, Seq("text"), c => Kernels.bpeCount(c("text")),
      LongType),
    (Kernels.HtmlMainStats, Seq("text"),
      c => Kernels.htmlMainStats(c("text"), 2, 30), StructType(Seq(
        StructField("main", StringType, nullable = false),
        StructField("n_blocks", IntegerType, nullable = false),
        StructField("n_kept", IntegerType, nullable = false)))))

  test("kernel contract: one case per table row") {
    assert(contract.map(_._1) == Kernels.table)
    assert(Kernels.table.map(_.name).distinct.size == Kernels.table.size)
  }

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((kernel, cols, build, dataType) <- contract)
    test(s"kernel contract: ${kernel.name}") {
      val df = inputs
      val call = build(col(_))
      def run(): Seq[org.apache.spark.sql.Row] =
        df.select(col("id"), call.as("k")).collect().toSeq.sortBy(_.getInt(0))
      // generated code only: a kernel whose call does not compile fails
      val compiled = withConf("spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false")(run())
      val interpreted = withConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(run())
      assert(compiled == interpreted)
      // NULL in any input gives NULL out, and only then
      val input = df.collect().map(r => r.getInt(0) -> r).toMap
      compiled.foreach { r =>
        val anyNull = cols.exists(c => input(r.getInt(0)).isNullAt(
          input(r.getInt(0)).fieldIndex(c)))
        assert(r.isNullAt(1) == anyNull, s"row ${r.getInt(0)}")
      }
      // the deleted class's type; nullable iff an input is
      val resolved = df.select(call.as("k")).schema("k")
      assert(resolved.dataType == dataType && resolved.nullable)
      val total = df.select(build(filled).as("k")).schema("k")
      assert(total.dataType == dataType && !total.nullable)
      // two equal builder calls are one expression to CSE and exchange
      // reuse; hyperplane_sig narrows its planes per call, so its calls
      // never were
      val twice = df.select(build(col(_)).as("a"), build(col(_)).as("b"))
        .queryExecution.analyzed.expressions
      assert(twice.size == 2 && twice(0).children.head.semanticEquals(
        twice(1).children.head) == (kernel != Kernels.HyperplaneSig),
        kernel.name)
      // the analyzed plan names the kernel; the physical plan calls it
      val qe = df.select(call.as("k")).queryExecution
      assert(qe.analyzed.toString.contains(s"${kernel.name}("))
      assert(qe.executedPlan.toString.contains(s".${kernel.method}("))
      // driver-side constants print bounded (a 200-rule merge table as
      // its size): every query execution keeps its plan's text
      assert(qe.executedPlan.toString.length < 1000, qe.executedPlan)
    }

  test("kernel contract: SQL front door resolves and rejects wrong types") {
    graft.GraftFunctions.register(spark)
    inputs.createOrReplaceTempView("kernel_inputs")
    val sqlForms = Seq(
      Kernels.MinhashSig -> ("minhash_sig(toks, 4)", "minhash_sig(1, 4)",
        Kernels.minhashSig(col("toks"), 4)),
      Kernels.XxSortedHashes -> ("xx_sorted_hashes(toks)",
        "xx_sorted_hashes(1)", Kernels.xxSortedHashes(col("toks"))),
      Kernels.KgramHashes -> ("kgram_hashes(text, 3)",
        "kgram_hashes(1, 3)", Kernels.kgramHashes(col("text"), 3)),
      Kernels.WordShingles -> ("word_shingles(toks, 2)",
        "word_shingles(array(1), 2)", Kernels.wordShingles(col("toks"), 2)),
      Kernels.TextGateStats -> ("text_gate_stats(text)",
        "text_gate_stats(toks)", graft.textops.TextOps.gateStats(col("text"))),
      Kernels.BpeCount -> ("bpe_count(text)", "bpe_count(1.5)",
        Kernels.bpeCount(col("text"))))
    val sqlNames = graft.GraftFunctions.descriptors.map(_._1).toSet
    assert(Kernels.table.map(_.name).filter(sqlNames) == sqlForms.map(_._1.name))
    for ((kernel, (good, bad, column)) <- sqlForms) {
      val viaSql = spark.sql(s"SELECT id, $good AS k FROM kernel_inputs")
      assert(viaSql.queryExecution.analyzed.toString
        .contains(s"${kernel.name}("), good)
      val viaColumn = inputs.select(col("id"), column.as("k"))
      assert(viaSql.schema == viaColumn.schema, good)
      assert(viaSql.collect().toSeq.sortBy(_.getInt(0)) ==
        viaColumn.collect().toSeq.sortBy(_.getInt(0)), good)
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(s"SELECT $bad FROM kernel_inputs").queryExecution.assertAnalyzed())
      assert(e.getMessage.contains("DATATYPE_MISMATCH"), s"$bad: ${e.getMessage}")
    }
    // an integer argument must stay a literal
    intercept[IllegalArgumentException](
      spark.sql("SELECT minhash_sig(toks, m) FROM kernel_inputs")
        .queryExecution.assertAnalyzed())
  }
}
