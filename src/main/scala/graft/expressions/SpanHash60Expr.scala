package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused PORTABLE span hashing: array<string> tokens → ordered array of
  * the top-60-bit md5 of every space-joined n-token window (stride 1, one
  * hash per position, duplicates preserved). Bit-exact with the built-in
  * chain `conv(substring(md5(cast(concat_ws(' ', slice(toks, i, n)) as
  * binary)), 1, 15), 16, 10)` — i.e. the [[Hash60Expr.hash60]]
  * seam a DuckDB oracle restates as
  * `('0x' || substring(md5(join), 1, 15))::BIGINT` — but computed in one
  * kernel pass: token bytes are extracted once, each window streams
  * through [[Hash60Expr.md5]]'s reused digest (token bytes + single-space
  * separators), and [[Hash60Expr.top60]] reads the 60-bit value. The
  * Column-chain form allocates a sliced array, a joined UTF8String, a
  * 32-char hex string, and a base-16 parse PER WINDOW; this kernel
  * allocates nothing per window beyond the digest's own state.
  *
  * The md5 hash keeps span-dedup pipelines bit-portable to a second
  * engine (the q74/q90 span-dedup correctness seam).
  *
  * Documents shorter than n tokens yield an empty array, matching
  * `SpanDedup.spanHashes`' guard. Null array elements are skipped inside
  * each window with no separator emitted for them — exactly `concat_ws`'
  * null semantics, so the kernel stays bit-exact with the built-in chain
  * even on nullable token arrays (`TextAnalysis.tokens` never produces
  * nulls, but the public surface accepts them).
  */
case class SpanHash60Expr(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"span_hash60 requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    SpanHash60Expr.spansOf(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks =>
      s"${ev.value} = graft.expressions.SpanHash60Expr.spansOf($toks, $n);")

  override protected def withNewChildInternal(newChild: Expression): SpanHash60Expr =
    copy(child = newChild)

  override def prettyName: String = "span_hash60"
}

object SpanHash60Expr {

  /** One-pass kernel: top-60-bit md5 of every space-joined n-token
    * window. */
  def spansOf(toks: ArrayData, n: Int): GenericArrayData = {
    val cnt = toks.numElements()
    if (cnt < n) return new GenericArrayData(new Array[Long](0))
    val words = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) {
      // null elements stay null here and are skipped per concat_ws
      words(i) = if (toks.isNullAt(i)) null else toks.getUTF8String(i).getBytes
      i += 1
    }
    val md = Hash60Expr.md5()
    val count = cnt - n + 1
    val hashes = new Array[Long](count)
    i = 0
    while (i < count) { // digest() leaves md reset for the next window
      var j = 0
      var emitted = false
      while (j < n) {
        val w = words(i + j)
        if (w != null) {
          if (emitted) md.update(' '.toByte)
          md.update(w)
          emitted = true
        }
        j += 1
      }
      hashes(i) = Hash60Expr.top60(md.digest())
      i += 1
    }
    new GenericArrayData(hashes)
  }

  /** Column entry point: ordered per-position portable 60-bit windows. */
  def spanHashes60(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      SpanHash60Expr(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens), n))
}
