package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native affine map of a numeric array column: `y_i = Σ_j m(i)(j) *
  * (x_j - shift_j)`, accumulated strictly left-to-right in double per
  * output component — the same IEEE op sequence as the
  * `element_at`-chain formulation (`Σ_j x_j * c_j` when `shift` is
  * zero), so swapping a chain for this kernel never moves a value.
  *
  * Why it exists: a d=64 input projected to k components expands to
  * k·d scalar expression nodes as a chain — past janino's method-size
  * limits (whole-stage codegen bails to interpreted eval) and slow to
  * even compile. This kernel is one reference-carried matrix and a
  * primitive loop: stays inside codegen at any (k, d), and is the hot
  * path for sign projection ([[graft.functions.Similarity.signProject]]).
  *
  * Inputs shorter than d contribute their available prefix (missing
  * tail treated as `shift`, i.e. centered-zero); library callers
  * always pass full-length vectors. An input with a NULL element maps
  * to a NULL output row (the chain formulation's behavior) — never a
  * silently-zeroed component. */
case class MatVecExpr(child: Expression,
                      matrix: Array[Array[Double]],
                      shift: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  // null input row OR null element inside the array → null output
  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType | LongType | IntegerType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"matvec requires a numeric array, got ${other.simpleString}")
    }

  @transient private lazy val elemCode: Int =
    child.dataType.asInstanceOf[ArrayType].elementType match {
      case FloatType => 0
      case DoubleType => 1
      case LongType => 2
      case IntegerType => 3
    }

  override def nullSafeEval(x: Any): Any =
    MatVecExpr.apply0(x.asInstanceOf[ArrayData], elemCode, matrix, shift)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val m = ctx.addReferenceObj("matvecMatrix", matrix, "double[][]")
    val s = ctx.addReferenceObj("matvecShift", shift, "double[]")
    nullSafeCodeGen(ctx, ev, x =>
      s"""${ev.value} = graft.expressions.MatVecExpr.apply0(
         |  $x, $elemCode, $m, $s);
         |if (${ev.value} == null) { ${ev.isNull} = true; }""".stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): MatVecExpr =
    copy(child = newChild)

  override def prettyName: String = "matvec"
}

object MatVecExpr {

  /** Returns null when the input array carries a null element (so the
    * expression's output row is null, matching the chain formulation). */
  def apply0(x: ArrayData, elemCode: Int,
             m: Array[Array[Double]], shift: Array[Double]): ArrayData = {
    val d = math.min(x.numElements(), shift.length)
    val xs = new Array[Double](d)
    var j = 0
    while (j < d) {
      if (x.isNullAt(j)) return null
      xs(j) = elem(x, elemCode, j) - shift(j); j += 1
    }
    val out = new Array[Double](m.length)
    var i = 0
    while (i < m.length) {
      val row = m(i)
      var acc = 0.0
      var jj = 0
      val n = math.min(d, row.length)
      while (jj < n) { acc += xs(jj) * row(jj); jj += 1 }
      out(i) = acc
      i += 1
    }
    new GenericArrayData(out)
  }

  private def elem(arr: ArrayData, t: Int, i: Int): Double = t match {
    case 0 => arr.getFloat(i).toDouble
    case 1 => arr.getDouble(i)
    case 2 => arr.getLong(i).toDouble
    case 3 => arr.getInt(i).toDouble
  }

  /** `matrix * (vec - shift)` as a Column; rows of `matrix` are the
    * output components. */
  def matVec(vec: Column, matrix: Seq[Seq[Double]],
             shift: Seq[Double]): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      MatVecExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(vec),
        matrix.map(_.toArray).toArray, shift.toArray))
}
