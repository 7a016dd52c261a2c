package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Jaccard similarity of two SORTED distinct long arrays via a single merge
  * walk — no per-pair hash set (`array_intersect`) and no union
  * materialization. |A∪B| = |A|+|B|−|A∩B| since inputs are distinct.
  *
  * Callers must pass sorted arrays (see `Dedup.hashedShingles`, which
  * sorts); unsorted input silently undercounts the intersection, so the
  * contract is pinned by the equivalence test against the generic
  * `Dedup.jaccard` on identical inputs.
  */
case class JaccardSortedExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"jaccard_sorted requires two array<long>, got ${l.simpleString}" +
            s" / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaccardSortedExpr.jaccardOf(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.JaccardSortedExpr.jaccardOf($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSortedExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "jaccard_sorted"
}

object JaccardSortedExpr {

  def jaccardOf(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  def jaccardSorted(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      JaccardSortedExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))
}
