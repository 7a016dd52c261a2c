package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** HTML numeric character references (`&#8212;`, `&#x2019;`) decoded to
  * their Unicode characters — the piece of crawl-HTML text extraction
  * ([[graft.functions.TextAnalysis.htmlText]]) Spark builtins cannot
  * express inside whole-stage codegen: `regexp_replace` substitutes
  * only fixed strings, and the split/`transform`/`zip_with` composition
  * that CAN compute `chr(code)` per match carries lambda higher-order
  * functions that drop the whole projection out of the codegen span —
  * the wrong trade on the corpus-wide extraction path. This expression
  * keeps the projection in WSCG with a single-pass JVM kernel.
  *
  * Semantics (mirrors the regex `&#([0-9]{1,7}|[xX][0-9a-fA-F]{1,6});`
  * exactly): 1-7 decimal or `x`/`X` + 1-6 hex digits terminated by
  * `;` decode; anything else — overlong digit runs, a missing
  * terminator, `&#x;` — stays literal. Out-of-range codepoints
  * (> U+10FFFF) and the surrogate range render U+FFFD, never a throw.
  * A double-escaped `&amp;#65;` has no `&#` adjacency and stays
  * literal, matching the named-entity decode discipline downstream. */
case class HtmlNumericRefsExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"html_numeric_refs requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(s: Any): Any =
    HtmlNumericRefsExpr.decodeRefs(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.HtmlNumericRefsExpr.decodeRefs($c)")

  override protected def withNewChildInternal(
      newChild: Expression): HtmlNumericRefsExpr = copy(child = newChild)

  override def prettyName: String = "html_numeric_refs"
}

object HtmlNumericRefsExpr {

  /** Codegen kernel: one pass, no regex, no allocation when the input
    * carries no `&#` at all (the overwhelmingly common case). */
  def decodeRefs(s: UTF8String): UTF8String = {
    val str = s.toString
    var i = str.indexOf("&#")
    if (i < 0) return s
    val sb = new java.lang.StringBuilder(str.length)
    var last = 0
    while (i >= 0) {
      var j = i + 2
      val hex = j < str.length &&
        (str.charAt(j) == 'x' || str.charAt(j) == 'X')
      if (hex) j += 1
      val maxDigits = if (hex) 6 else 7
      var code = 0L
      var nd = 0
      var run = true
      while (run && j < str.length && nd < maxDigits) {
        val c = str.charAt(j)
        val v =
          if (c >= '0' && c <= '9') c - '0'
          else if (hex && c >= 'a' && c <= 'f') c - 'a' + 10
          else if (hex && c >= 'A' && c <= 'F') c - 'A' + 10
          else -1
        if (v < 0) run = false
        else { code = code * (if (hex) 16 else 10) + v; nd += 1; j += 1 }
      }
      if (nd >= 1 && j < str.length && str.charAt(j) == ';') {
        sb.append(str, last, i)
        if (code > 0x10FFFFL || (code >= 0xD800L && code <= 0xDFFFL))
          sb.append('�')
        else sb.appendCodePoint(code.toInt)
        last = j + 1
        i = str.indexOf("&#", last)
      } else i = str.indexOf("&#", i + 2) // not a reference: stays literal
    }
    sb.append(str, last, str.length)
    UTF8String.fromString(sb.toString)
  }

  /** Column entry point. */
  def htmlNumericRefs(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      HtmlNumericRefsExpr(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}
