package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Greedy longest-match segmentation of ONE lowercase alnum run against
  * the embedded BPE vocabulary — the segment-sequence counterpart of
  * [[BpeTokenCountExpr]] (same trie, same maximal-munch semantics, same
  * single source of truth `graft/bpe_vocab.txt`), for callers that need
  * the units themselves rather than their count: merge-candidate mining
  * (adjacent-pair statistics = one distributed BPE training iteration),
  * unit-frequency audits, fertility drill-downs.
  *
  * Input contract: a `[a-z0-9]+` run (what `[a-z0-9]+|[^a-z0-9\s]`
  * pre-tokenization produces) — segment DISTINCT runs and join counts
  * back rather than segmenting every occurrence; the run vocabulary of a
  * corpus grows far slower than the corpus. A character outside [a-z0-9]
  * fails fast (null input → null): silently skipping it would
  * desynchronize the unit stream the pair statistics are built on.
  *
  * All 36 single characters are vocabulary members, so segmentation
  * always progresses; the output concatenates back to the input exactly.
  */
case class BpeSegmentsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_segments requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    BpeSegmentsExpr.segments(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.BpeSegmentsExpr.segments($s);")

  override protected def withNewChildInternal(newChild: Expression): BpeSegmentsExpr =
    copy(child = newChild)

  override def prettyName: String = "bpe_segments"
}

object BpeSegmentsExpr {

  /** Codegen kernel: maximal-munch unit sequence of one alnum run. */
  def segments(s: UTF8String): GenericArrayData = {
    val t = s.toString
    val len = t.length
    val out = new java.util.ArrayList[Any](math.min(len, 16))
    var i = 0
    while (i < len) {
      val end = BpeTokenCountExpr.longestUnitEnd(t, i)
      if (end < 0)
        throw new IllegalArgumentException(
          s"bpe_segments: input must be a [a-z0-9]+ run, got '$t'")
      out.add(UTF8String.fromString(t.substring(i, end)))
      i = end
    }
    new GenericArrayData(out.toArray)
  }

  /** Column entry point. */
  def bpeSegments(run: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      BpeSegmentsExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(run)))
}
