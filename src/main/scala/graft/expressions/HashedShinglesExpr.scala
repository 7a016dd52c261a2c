package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused shingle hashing: string → sorted distinct array of
  * `xxhash64(k-char window) mod P` in one pass, without materializing the
  * intermediate array of shingle strings that the built-in formulation
  * (`transform(sequence(...), i => substring(c, i, k))` → hash → distinct →
  * sort) allocates per document. Window extraction uses the same
  * `substringSQL` the built-in substring expression uses, so hashes are
  * identical to the composed form (pinned by HashedShinglesExprSpec).
  */
case class HashedShinglesExpr(child: Expression, k: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hashed_shingles requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    HashedShinglesExpr.shinglesOf(input.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.HashedShinglesExpr.shinglesOf($s, $k);")

  override protected def withNewChildInternal(newChild: Expression): HashedShinglesExpr =
    copy(child = newChild)

  override def prettyName: String = "hashed_shingles"
}

object HashedShinglesExpr {

  private val P = 2147483647L

  /** One-pass kernel: hash every k-char window, sort, dedupe. */
  def shinglesOf(s: UTF8String, k: Int): GenericArrayData = {
    val n = s.numChars()
    val count = math.max(n - k + 1, 1)
    val hashes = new Array[Long](count)
    var i = 0
    while (i < count) {
      val window = s.substringSQL(i + 1, k)
      val h = XxHash64Function.hash(window, StringType, 42L) % P
      hashes(i) = if (h < 0) h + P else h
      i += 1
    }
    java.util.Arrays.sort(hashes)
    // in-place dedupe of the sorted array
    var out = 0
    var j = 0
    while (j < count) {
      if (out == 0 || hashes(j) != hashes(out - 1)) {
        hashes(out) = hashes(j)
        out += 1
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(hashes, out))
  }

  /** Column entry point: sorted distinct hashed k-shingles of a string. */
  def hashedShingles(text: Column, k: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      HashedShinglesExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(text), k))
}
