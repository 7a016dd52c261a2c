package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization — the canonical-composition pass every
  * dedup/linkage pipeline needs BEFORE hashing text: the same visible
  * string can arrive composed ("é" U+00E9) or decomposed ("e" + U+0301)
  * from different crawls/OCR paths, and every downstream fingerprint
  * (minhash shingles, simhash, deletion variants, exact-dup md5) treats
  * them as different documents unless normalized first. Spark ships no
  * normalization function; this wraps the JDK's `java.text.Normalizer`
  * (Unicode-standard NFC, byte-identical to DuckDB's `nfc_normalize` —
  * the q142 gate compares them on a decomposed corpus).
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation and
  * true for virtually all real text — the quadratic-ish compose pass
  * only runs on strings that actually contain decomposed sequences. */
case class NfcNormalizeExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nfc_normalize requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(s: Any): Any =
    NfcNormalizeExpr.normalize(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.expressions.NfcNormalizeExpr.normalize($c)")

  override protected def withNewChildInternal(
      newChild: Expression): NfcNormalizeExpr = copy(child = newChild)

  override def prettyName: String = "nfc_normalize"
}

object NfcNormalizeExpr {

  /** Codegen kernel: skip the compose pass when already normalized. */
  def normalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC))
      s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Column entry point. */
  def nfcNormalize(c: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      NfcNormalizeExpr(org.apache.spark.sql.graft.ColumnBridge.expression(c)))
}
