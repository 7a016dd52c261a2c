package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Native 60-bit SimHash over an array<string> of tokens using an
  * engine-PORTABLE token hash: the top 60 bits of md5 (the first 15 hex
  * digits parsed base-16).
  *
  * xxhash64 exists only inside Spark — an external oracle cannot restate
  * it. md5 is universal: DuckDB states the identical hash as
  * `('0x' || substring(md5(t), 1, 15))::BIGINT` and Spark's built-in
  * surface as `conv(substring(md5(binary(t)), 1, 15), 16, 10)`, so a
  * simhash pipeline is checkable bit-for-bit against a second engine (the
  * q28/q38 correctness rows). 60 bits keep the value inside a signed
  * 64-bit long with no unsigned edge cases anywhere.
  *
  * Single pass: bit b of the result is the sign of Σ_tokens ±1 by bit b of
  * [[Hash60Expr.hash60]](token). Null tokens are skipped (md5 of null is
  * null — no vote).
  */
case class SimHashPortableExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash60_portable requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    java.lang.Long.valueOf(
      SimHashPortableExpr.simhashOf(input.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.expressions.SimHashPortableExpr.simhashOf($arr);")

  override protected def withNewChildInternal(newChild: Expression): SimHashPortableExpr =
    copy(child = newChild)

  override def prettyName: String = "simhash60_portable"
}

object SimHashPortableExpr {

  val Bits = 60

  /** Single-pass portable-simhash kernel (shared by eval and codegen). */
  def simhashOf(arr: ArrayData): Long = {
    val votes = new Array[Int](Bits)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = Hash60Expr.hash60(arr.getUTF8String(i).getBytes)
        var b = 0
        while (b < Bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < Bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Column-level entry point (classic-API Column↔Expression bridge). */
  def simhash60Portable(tokens: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SimHashPortableExpr(org.apache.spark.sql.graft.ColumnBridge.expression(tokens)))
}
