package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Runtime kernels for vector math over array columns. Primitive-array
  * fast paths: `ArrayData.toFloatArray`/`toDoubleArray` unpack columnar
  * storage once, then a tight scalar loop — no per-element boxing, no
  * intermediate zipped array (what `aggregate(zip_with(...))` allocates
  * per row).
  *
  * Accumulation is sequential left-to-right in double precision — the
  * exact fold order the DuckDB oracle mirrors (SimopsRows.duckCosine), so
  * results stay bit-identical across engines.
  */
object VectorOpsUtil {
  def dotFloat(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray()
    val y = b.toFloatArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
    acc
  }

  def dotDouble(a: ArrayData, b: ArrayData): Double = {
    val x = a.toDoubleArray()
    val y = b.toDoubleArray()
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i) * y(i); i += 1 }
    acc
  }
}

/** Codegen'd dot product of two non-null-element numeric arrays (float or
  * double), the hot kernel of cosine similarity / ANN scoring. Emits one
  * static call so the enclosing operator stays in whole-stage codegen.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  private def elemType: DataType =
    left.dataType.asInstanceOf[ArrayType].elementType

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) |
           (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"dot_product needs two float or two double arrays, got $l, $r")
    }
  }

  private def kernel: String = elemType match {
    case FloatType => "dotFloat"
    case _         => "dotDouble"
  }

  override def nullSafeEval(a: Any, b: Any): Any = elemType match {
    case FloatType => VectorOpsUtil.dotFloat(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    case _ => VectorOpsUtil.dotDouble(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.VectorOpsUtil.$kernel($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorOps {
  /** Σ aᵢ·bᵢ with double accumulation; native fast path. */
  def dot(a: Column, b: Column): Column =
    GraftColumnBridge.toColumn(DotProductExpr(
      GraftColumnBridge.toExpression(a), GraftColumnBridge.toExpression(b)))
}
