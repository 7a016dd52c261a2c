package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Jaro-Winkler similarity of two strings — the record-linkage
  * scoring function Spark lacks (it ships only `levenshtein`), needed to
  * rank candidate pairs that survive blocking: typo'd names score ~0.95
  * while unrelated names score < 0.6, so a single threshold separates
  * them without the length-sensitivity of an absolute edit distance.
  *
  * Exact semantics (pinned by a 20k-pair fuzz spec against a driver-side
  * reference, and by the q123 DuckDB `jaro_winkler_similarity` oracle):
  *  - Jaro: match window `max(⌊max(|a|,|b|)/2⌋−1, 0)`, greedy
  *    first-unmatched pairing, transpositions = half the out-of-order
  *    matches; either string empty → 0.0 (INCLUDING both empty — the
  *    DuckDB convention, probed, not the 1.0 some libraries return).
  *  - Winkler boost only when jaro > 0.7 (strictly): `j + ℓ·0.1·(1−j)`
  *    with ℓ the common prefix capped at 4.
  *
  * Comparison unit is selectable:
  *  - `byteMode = false` (default): per UTF-16 code unit on the decoded
  *    string — identical pair sets to per-codepoint for the BMP text this
  *    library targets (and bit-identical on ASCII ids/names, the
  *    record-linkage domain).
  *  - `byteMode = true`: per UTF-8 BYTE straight off the unsafe buffer —
  *    DuckDB's `jaro_winkler_similarity` semantics (probed:
  *    jw('café','cafe') = 0.8483..., byte lengths 5/4), so scores are
  *    bit-exact against that oracle on NON-ASCII text too, and the kernel
  *    skips the String decode entirely (no allocation beyond the two
  *    match-flag arrays).
  *
  * O(|a|·|b|) per pair: meant for AFTER blocking (deletion-neighborhood,
  * sorted-neighborhood, phonetic), never as a cross-join predicate.
  */
case class JaroWinklerExpr(left: Expression, right: Expression,
                           byteMode: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"jaro_winkler requires (string, string), got " +
            s"${l.simpleString} / ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    if (byteMode)
      JaroWinklerExpr.similarityBytes(
        a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
    else
      JaroWinklerExpr.similarity(
        a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernel = if (byteMode) "similarityBytes" else "similarity"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.expressions.JaroWinklerExpr.$kernel($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinklerExpr =
    copy(left = newLeft, right = newRight)

  override def prettyName: String =
    if (byteMode) "jaro_winkler_bytes" else "jaro_winkler"
}

object JaroWinklerExpr {

  /** Codegen kernel. Allocation: two boolean arrays sized to the inputs. */
  def similarity(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString
    val b = ub.toString
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val w = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - w)
      val hi = math.min(lb - 1, i + w)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && a.charAt(i) == b.charAt(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  /** UTF-8 byte-unit kernel — DuckDB `jaro_winkler_similarity` semantics
    * on any input (that engine compares bytes, not code units). Reads the
    * UTF8String buffer directly: no decode, no String allocation. */
  def similarityBytes(ua: UTF8String, ub: UTF8String): Double = {
    val la = ua.numBytes
    val lb = ub.numBytes
    if (la == 0 || lb == 0) return 0.0
    val w = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - w)
      val hi = math.min(lb - 1, i + w)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && ua.getByte(i) == ub.getByte(j)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(j)) j += 1
        if (ua.getByte(i) != ub.getByte(j)) t += 1
        j += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro <= 0.7) return jaro
    var l = 0
    val maxL = math.min(4, math.min(la, lb))
    while (l < maxL && ua.getByte(l) == ub.getByte(l)) l += 1
    jaro + l * 0.1 * (1.0 - jaro)
  }

  /** Column entry point. */
  def jaroWinkler(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      JaroWinklerExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b)))

  /** Column entry point, UTF-8 byte semantics (DuckDB-parity on
    * non-ASCII text). */
  def jaroWinklerBytes(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      JaroWinklerExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(a),
        org.apache.spark.sql.graft.ColumnBridge.expression(b),
        byteMode = true))
}
