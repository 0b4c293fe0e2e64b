package graft.functions

import java.util.concurrent.ConcurrentHashMap

import scala.reflect.ClassTag

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, InheritAnalysisRules, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** `name(arguments)` in SQL and analyzed plans. The optimizer replaces it
  * with its static call, and it canonicalizes to that call, so two equal
  * calls are `semanticEquals`: one evaluation under common-subexpression
  * elimination, one shuffle under exchange reuse. Driver-side constants
  * (planes, dictionaries, filters) stay out of the printed name.
  */
case class KernelCall(kernel: Kernel, replacement: Expression)
    extends RuntimeReplaceable with InheritAnalysisRules {
  override def parameters: Seq[Expression] = replacement.children.filter {
    case Literal(_, _: ObjectType) => false
    case _ => true
  }
  override def prettyName: String = kernel.name

  /** Each argument must have its row's type, up to nullability: no
    * implicit cast, so `minhash_sig(array(1), 4)` is rejected as it was
    * before kernels were static calls.
    */
  override def checkInputDataTypes(): TypeCheckResult = {
    def fits(got: DataType, want: DataType) = (got, want) match {
      case (ArrayType(g, _), ArrayType(w, _)) => g == w
      case _ => got == want
    }
    replacement.children.map(_.dataType).zip(kernel.inputTypes).collectFirst {
      case (got, want) if !fits(got, want) => TypeCheckResult.TypeCheckFailure(
        s"${kernel.name} needs ${want.simpleString}, got ${got.simpleString}")
    }.getOrElse(TypeCheckResult.TypeCheckSuccess)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}

/** One row of the kernel table: a static method of a `*Util` object, its
  * name, its result type and its argument types. `apply` is the one
  * Column builder: Spark's `StaticInvoke` of the method, with generated
  * code and NULL in giving NULL out, inside a [[KernelCall]] that checks
  * the argument types at analysis. A Column argument passes through, an
  * Int or Boolean becomes a literal, and any other driver-side constant
  * becomes an `ObjectType` literal of its argument type.
  */
final case class Kernel(name: String, util: AnyRef, method: String,
                        dataType: DataType, inputTypes: DataType*) {
  def apply(args: Any*): Column = {
    require(args.size == inputTypes.size,
      s"$name takes ${inputTypes.size} arguments, got ${args.size}")
    val exprs = args.zip(inputTypes).map {
      case (c: Column, _) => GraftColumnBridge.toExpression(c)
      case (v, t: ObjectType) => Literal(v, t)
      case (v, _) => Literal(v)
    }
    GraftColumnBridge.toColumn(KernelCall(this, StaticInvoke(util.getClass,
      dataType, method, exprs, propagateNull = true, returnNullable = false)))
  }
}

/** The codegen'd kernels: the table, then one Column builder per kernel
  * that checks its driver-side arguments and folds its constants.
  */
object Kernels {
  private def obj[T](implicit t: ClassTag[T]): ObjectType = ObjectType(t.runtimeClass)
  private val strs = ArrayType(StringType)
  private val dbls = ArrayType(DoubleType)
  private val longs = ArrayType(LongType, containsNull = false)
  private val codes = obj[Array[Array[Int]]]
  private val books = obj[Array[Array[Array[Double]]]]

  val gateStatsType: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_punct", IntegerType, nullable = false),
    StructField("n_stop", IntegerType, nullable = false)))

  val htmlMainType: StructType = StructType(Seq(
    StructField("main", StringType, nullable = false),
    StructField("n_blocks", IntegerType, nullable = false),
    StructField("n_kept", IntegerType, nullable = false)))

  val MinhashSig = Kernel("minhash_sig", BatchKernelUtil, "minhashSig",
    ArrayType(LongType, containsNull = true), strs, IntegerType)
  val XxSortedHashes = Kernel("xx_sorted_hashes", BatchKernelUtil,
    "xxSortedHashes", longs, strs)
  val KgramHashes = Kernel("kgram_hashes", BatchKernelUtil, "kgramHashes",
    longs, StringType, IntegerType)
  val DsirBuckets = Kernel("dsir_buckets", BatchKernelUtil, "dsirBuckets",
    longs, StringType, IntegerType)
  val WinnowFps = Kernel("winnow_fps", BatchKernelUtil, "winnowFps", longs,
    StringType, IntegerType, IntegerType)
  val WordKgramXx = Kernel("word_kgram_xx", BatchKernelUtil, "wordKgramXx",
    longs, StringType, IntegerType)
  val CharKgramXx = Kernel("char_kgram_xx", BatchKernelUtil, "charKgramXx",
    longs, StringType, IntegerType)
  val WordShingles = Kernel("word_shingles", BatchKernelUtil, "wordShingles",
    ArrayType(StringType, containsNull = false), strs, IntegerType)
  val HyperplaneSig = Kernel("hyperplane_sig", BatchKernelUtil,
    "hyperplaneSig", LongType, ArrayType(FloatType), obj[Array[Array[Float]]])
  val CentroidSims = Kernel("centroid_sims", BatchKernelUtil, "centroidSims",
    ArrayType(DoubleType, containsNull = false), dbls,
    obj[Array[Array[Double]]], obj[Array[Double]])
  val BloomContains = Kernel("bloom_contains", BatchKernelUtil,
    "bloomContains", BooleanType, LongType, obj[BloomFilter])
  val PqCodes = Kernel("pq_codes", PqKernelUtil, "pqCodes",
    ArrayType(IntegerType, containsNull = false), dbls, codes, books)
  val PqErr = Kernel("pq_err", PqKernelUtil, "pqErr", DoubleType, dbls, books)
  val PqAssign = Kernel("pq_assign", PqKernelUtil, "pqAssign", IntegerType,
    dbls, IntegerType, codes, books)
  val PqAdc = Kernel("pq_adc", PqAdcUtil, "adc", DoubleType, dbls,
    ArrayType(IntegerType), codes, books)
  val SubNearest = Kernel("sub_nearest", SubNearestUtil, "nearestSub",
    IntegerType, dbls, IntegerType, books, obj[Array[Array[Double]]], codes)
  val CountBelow = Kernel("count_below", CountBelowUtil, "countBelow",
    IntegerType, DoubleType, dbls)
  val TextGateStats = Kernel("text_gate_stats", TextGateStatsUtil,
    "gateStats", gateStatsType, StringType, obj[java.util.HashSet[_]],
    IntegerType)
  val WordNgrams = Kernel("word_ngrams", WordNgramUtil, "wordNgrams",
    ArrayType(StringType, containsNull = false), strs, IntegerType)
  val NgramXxSet = Kernel("ngram_xx_set", WordNgramUtil, "ngramXxSet", longs,
    strs, IntegerType)
  val WordCounts = Kernel("word_counts", WordCountsUtil, "wordCounts",
    ArrayType(StructType(Seq(
      StructField("term", StringType, nullable = false),
      StructField("tf", LongType, nullable = false))), containsNull = false),
    strs)
  val LangId = Kernel("lang_id", LangIdUtil, "langId", StringType, StringType,
    obj[LangIdUtil.Dict])
  val BpeCount = Kernel("bpe_count", BpeKernelUtil, "docCount", LongType,
    StringType, obj[BpeKernelUtil.Ranks], BooleanType)
  val HtmlMainStats = Kernel("html_main_stats", HtmlMainUtil, "mainStats",
    htmlMainType, StringType, IntegerType, IntegerType)

  val table: Seq[Kernel] = Seq(MinhashSig, XxSortedHashes, KgramHashes,
    DsirBuckets, WinnowFps, WordKgramXx, CharKgramXx, WordShingles,
    HyperplaneSig, CentroidSims, BloomContains, PqCodes, PqErr, PqAssign,
    PqAdc, SubNearest, CountBelow, TextGateStats, WordNgrams, NgramXxSet,
    WordCounts, LangId, BpeCount, HtmlMainStats)

  /** One driver-side object per distinct (kind, value). A literal compares
    * its object with `==`, so equal builder calls must share the object
    * for their calls to compare equal (the language dictionary has no
    * value equality; the sets and maps compare cheaply by reference).
    */
  private val shared = new ConcurrentHashMap[(String, Any), AnyRef]()
  private def once[T <: AnyRef](kind: String, key: Any)(build: => T): T =
    shared.computeIfAbsent((kind, key), _ => build).asInstanceOf[T]

  /** Norms folded once per centroid matrix, keyed by identity and held
    * weakly: two calls over the same matrix then pass the same norms and
    * compare equal, and the matrix of a finished fit is not retained.
    */
  private val folded = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, AnyRef]())
  private def foldOnce[T <: AnyRef](m: AnyRef)(fold: => T): T =
    folded.computeIfAbsent(m, _ => fold).asInstanceOf[T]

  /** L2 norm with the kernels' left-to-right summation, so a norm folded
    * on the driver equals the engine-side `norm`.
    */
  private def norm(c: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  /** See [[BatchKernelUtil.minhashSig]]. */
  def minhashSig(c: Column, numHashes: Int): Column = {
    require(numHashes > 0, s"numHashes must be positive, got $numHashes")
    MinhashSig(c, numHashes)
  }

  /** See [[BatchKernelUtil.xxSortedHashes]]. */
  def xxSortedHashes(c: Column): Column = XxSortedHashes(c)

  /** See [[BatchKernelUtil.kgramHashes]]. */
  def kgramHashes(c: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    KgramHashes(c, k)
  }

  /** See [[BatchKernelUtil.dsirBuckets]]. */
  def dsirBuckets(c: Column, nBuckets: Int): Column = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    DsirBuckets(c, nBuckets)
  }

  /** See [[BatchKernelUtil.winnowFps]]. */
  def winnowFps(c: Column, k: Int, w: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    require(w > 0, s"w must be positive, got $w")
    WinnowFps(c, k, w)
  }

  /** See [[BatchKernelUtil.wordKgramXx]]. */
  def wordKgramXx(c: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    WordKgramXx(c, k)
  }

  /** See [[BatchKernelUtil.charKgramXx]]. */
  def charKgramXx(c: Column, k: Int): Column = {
    require(k > 0, s"k must be positive, got $k")
    CharKgramXx(c, k)
  }

  /** See [[BatchKernelUtil.wordShingles]]. */
  def wordShingles(c: Column, n: Int): Column = {
    require(n > 0, s"shingle size must be positive, got $n")
    WordShingles(c, n)
  }

  /** See [[BatchKernelUtil.hyperplaneSig]]; the planes are narrowed to
    * float on the driver, per call, so two calls are two expressions.
    */
  def hyperplaneSig(c: Column, planes: Array[Array[Double]]): Column =
    HyperplaneSig(c, planes.map(_.map(_.toFloat)))

  /** See [[BatchKernelUtil.centroidSims]]; the centroid norms are folded
    * on the driver.
    */
  def centroidSims(c: Column, cents: Array[Array[Double]]): Column =
    CentroidSims(c, cents, foldOnce(cents)(cents.map(norm)))

  /** See [[BatchKernelUtil.bloomContains]]. */
  def bloomContains(c: Column, bloom: BloomFilter): Column =
    BloomContains(c, bloom)

  /** See [[PqKernelUtil.pqCodes]]. */
  def pqCodes(c: Column, codes: Array[Array[Int]],
              books: Array[Array[Array[Double]]]): Column =
    PqCodes(c, codes, books)

  /** See [[PqKernelUtil.pqErr]]. */
  def pqErr(c: Column, books: Array[Array[Array[Double]]]): Column =
    PqErr(c, books)

  /** See [[PqKernelUtil.pqAssign]]. */
  def pqAssign(v: Column, m: Column, codes: Array[Array[Int]],
               books: Array[Array[Array[Double]]]): Column =
    PqAssign(v, m, codes, books)

  /** See [[PqAdcUtil.adc]]. */
  def pqAdc(qv: Column, codes: Column, idx: Array[Array[Int]],
            books: Array[Array[Array[Double]]]): Column =
    PqAdc(qv, codes, idx, books)

  /** See [[SubNearestUtil.nearestSub]]; the sub-centroid norms are folded
    * on the driver.
    */
  def subNearest(v: Column, coarseId: Column,
                 subCents: Array[Array[Array[Double]]],
                 subIds: Array[Array[Int]]): Column =
    SubNearest(v, coarseId, subCents,
      foldOnce(subCents)(subCents.map(_.map(norm))), subIds)

  /** See [[CountBelowUtil.countBelow]]. */
  def countBelow(value: Column, cuts: Column): Column = CountBelow(value, cuts)

  /** See [[TextGateStatsUtil.gateStats]]. */
  def textGateStats(c: Column, dict: Seq[String]): Column =
    TextGateStats(c, once("gate", dict)(TextGateStatsUtil.buildDict(dict)),
      TextGateStatsUtil.maxBytes(dict))

  /** See [[WordNgramUtil.wordNgrams]]. */
  def wordNgrams(c: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    WordNgrams(c, n)
  }

  /** See [[WordNgramUtil.ngramXxSet]]. */
  def ngramXxSet(c: Column, n: Int): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    NgramXxSet(c, n)
  }

  /** See [[WordCountsUtil.wordCounts]]. */
  def wordCounts(c: Column): Column = WordCounts(c)

  /** See [[LangIdUtil.langId]]. */
  def langId(c: Column, langs: Seq[(String, Seq[String])]): Column =
    LangId(c, once("lang", langs)(new LangIdUtil.Dict(langs)))

  /** See [[BpeKernelUtil.docCount]]: the document's BPE token count under
    * `merges`; `byteLevel` seeds the merge loop with the UTF-8 bytes
    * through [[BpeVocab.byteToUnicode]] (the GPT-2-family pre-encoder).
    */
  def bpeCount(c: Column, merges: Seq[(String, String)] = BpeVocab.merges,
               byteLevel: Boolean = false): Column =
    BpeCount(c, once("bpe", merges)(BpeKernelUtil.buildRanks(merges)),
      byteLevel)

  /** See [[HtmlMainUtil.mainStats]]: (main string, n_blocks, n_kept). */
  def htmlMainStats(c: Column, minWords: Int, maxLinkPct: Int): Column = {
    require(minWords >= 1 && maxLinkPct >= 0 && maxLinkPct <= 100,
      s"bad thresholds: minWords=$minWords maxLinkPct=$maxLinkPct")
    HtmlMainStats(c, minWords, maxLinkPct)
  }
}
