package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product of two numeric array columns.
  *
  * Accumulation is strictly left-to-right in double — IDENTICAL values to
  * the built-in `aggregate(zip_with(a, b, (x, y) => x*y), 0.0, _+_)`
  * formulation (pinned by DotProductExprSpec), which in turn matches the
  * DuckDB oracle's `list_sum(list_transform(...))`. The win is mechanical:
  * the HOF pipeline pays a boxed lambda dispatch and an intermediate array
  * per row; this kernel is a primitive loop, so the pairwise-cosine near-dup
  * join and every top-k scan drop their dominant cost.
  *
  * Mismatched lengths truncate to the shorter side (zip_with pads with null
  * → null products are skipped by the HOF sum only if coalesced; we define
  * truncation, and library callers always pass equal-length vectors).
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType | LongType | IntegerType, _) => true
    case _ => false
  }

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot requires numeric arrays, got ${left.dataType.simpleString}" +
          s" / ${right.dataType.simpleString}")

  @transient private lazy val leftElem =
    left.dataType.asInstanceOf[ArrayType].elementType
  @transient private lazy val rightElem =
    right.dataType.asInstanceOf[ArrayType].elementType

  override def nullSafeEval(a: Any, b: Any): Any =
    DotProductExpr.dotOf(a.asInstanceOf[ArrayData], typeCode(leftElem),
      b.asInstanceOf[ArrayData], typeCode(rightElem))

  private def typeCode(dt: DataType): Int = dt match {
    case FloatType => 0
    case DoubleType => 1
    case LongType => 2
    case IntegerType => 3
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.DotProductExpr.dotOf(" +
        s"$a, ${typeCode(leftElem)}, $b, ${typeCode(rightElem)});")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "dot"
}

object DotProductExpr {

  /** Sequential left-to-right double accumulation (matches zip_with+aggregate). */
  def dotOf(a: ArrayData, aType: Int, b: ArrayData, bType: Int): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += elem(a, aType, i) * elem(b, bType, i)
      i += 1
    }
    acc
  }

  private def elem(arr: ArrayData, t: Int, i: Int): Double = t match {
    case 0 => arr.getFloat(i).toDouble
    case 1 => arr.getDouble(i)
    case 2 => arr.getLong(i).toDouble
    case 3 => arr.getInt(i).toDouble
  }

  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      DotProductExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))
}
