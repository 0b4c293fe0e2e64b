package graft

import graft.functions.{ArrayShiftExpr, DotProductExpr, KernelCall, Kernels, SimHashAgg}
import org.apache.spark.sql.{Column, GraftColumnBridge}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

/** Registers the graft custom expressions as SQL functions, so
  * `spark.sql` users get the same operators as the Column API:
  *
  *   SELECT dot_product(a.embedding, b.embedding)        -- codegen'd dot
  *   SELECT array_shift(embedding, 2, CAST(NULL AS FLOAT))
  *   SELECT simhash_agg(xxhash64(tok)) ... GROUP BY doc_id
  *
  * Two entry points:
  *  - `spark.sql.extensions=graft.GraftExtensions` (cluster config), or
  *  - `GraftFunctions.register(spark)` on an existing session.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftFunctions.descriptors.foreach { case (name, info, builder) =>
      e.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftFunctions {

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def col(e: Expression): Column = GraftColumnBridge.toColumn(e)

  /** A SQL function built by a Column builder — a kernel row's, or a
    * composed operator's — so the SQL form cannot drift from the
    * DataFrame one.
    */
  private def fn(name: String)(args: PartialFunction[Seq[Expression], Column])
      : (String, ExpressionInfo, Seq[Expression] => Expression) =
    (name, new ExpressionInfo(classOf[KernelCall].getName, name),
      exprs => GraftColumnBridge.toExpressionEager(args.applyOrElse(exprs,
        (e: Seq[Expression]) => throw new IllegalArgumentException(
          s"$name: wrong arguments (${e.size})"))))

  private[graft] val descriptors: Seq[(String, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    ("array_shift",
      new ExpressionInfo(classOf[ArrayShiftExpr].getName, "array_shift"),
      exprs => exprs match {
        case Seq(arr, k) =>
          ArrayShiftExpr(arr, litInt(k, "lag"), None)
        case Seq(arr, k, Literal(null, _)) =>
          ArrayShiftExpr(arr, litInt(k, "lag"), None)
        case Seq(arr, k, Literal(fill, _)) =>
          ArrayShiftExpr(arr, litInt(k, "lag"), Some(fill))
        case other => throw new IllegalArgumentException(
          s"array_shift(array, lag[, fill]) — got ${other.size} args")
      }),
    ("dot_product",
      new ExpressionInfo(classOf[DotProductExpr].getName, "dot_product"),
      exprs => DotProductExpr(exprs(0), exprs(1))),
    ("simhash_agg",
      new ExpressionInfo(classOf[SimHashAgg].getName, "simhash_agg"),
      exprs => SimHashAgg(exprs.head).toAggregateExpression()),
    // the kernel rows with a SQL form, each named by its Kernels row
    fn(Kernels.MinhashSig.name) { case Seq(sh, n) =>
      Kernels.minhashSig(col(sh), litInt(n, "numHashes")) },
    fn(Kernels.XxSortedHashes.name) { case Seq(sh) =>
      Kernels.xxSortedHashes(col(sh)) },
    fn(Kernels.KgramHashes.name) { case Seq(t, k) =>
      Kernels.kgramHashes(col(t), litInt(k, "k")) },
    fn(Kernels.WordShingles.name) { case Seq(toks, n) =>
      Kernels.wordShingles(col(toks), litInt(n, "n")) },
    // ---- the SQL front door for the text/dedup pipeline family ----
    // text_gate_stats(text) → struct(n_tokens, n_chars, n_punct, n_stop):
    // the fused gate kernel under the same union-stopword dictionary the
    // Column API uses, so a SQL-only user computes bit-identical stats.
    fn(Kernels.TextGateStats.name) { case Seq(t) =>
      graft.textops.TextOps.gateStats(col(t)) },
    // bpe_count(text) → total BPE token count under the fixture merge
    // table (the unit every `_bpe` budget operator meters in).
    fn(Kernels.BpeCount.name) { case Seq(t) => Kernels.bpeCount(col(t)) },
    // text_quality(text) → the composed deterministic quality score
    fn("text_quality") { case Seq(t) =>
      graft.textops.TextOps.qualityScore(col(t)) },
    // text_lang(text) → the n-gram/stopword language-ID heuristic
    fn("text_lang") { case Seq(t) => graft.textops.TextOps.langId(col(t)) },
    // html_clean(html) → the cleaned prose under the full extraction
    // contract (block drops → tag strip → entity decode &amp;-last →
    // whitespace collapse)
    fn("html_clean") { case Seq(h) => graft.textops.Html.cleanText(col(h)) },
    // html_main(html[, minWords, maxLinkPct]) → MAIN-content text (the
    // justext-core block scoring)
    fn("html_main") {
      case Seq(h) => graft.textops.Html.mainText(col(h))
      case Seq(h, mw, pct) => graft.textops.Html.mainText(col(h),
        litInt(mw, "minWords"), litInt(pct, "maxLinkPct"))
    })

  /** Imperative registration for sessions built without extensions. */
  def register(spark: SparkSession): Unit =
    descriptors.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
