package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused word-n-gram hashing: array<string> tokens → sorted distinct array
  * of `xxhash64(space-joined n-gram) mod P` in one pass.
  *
  * The built-in formulation (`hashedShingles(wordShingles(toks, n))`)
  * allocates a joined string per gram and pays a boxed lambda dispatch per
  * gram for the slice/join AND per gram again for the hash — it dominated
  * the q29 near-dup bench (≈8 of 5.5s was gram construction). This kernel
  * builds each gram with one byte-level `UTF8String.concatWs` and hashes
  * it immediately; outputs are bit-identical to the composed form (pinned
  * by WordShingleHashExprSpec). Documents shorter than n tokens collapse to
  * a single all-tokens gram, mirroring `Dedup.wordShingles`.
  *
  * Contract: token arrays must not contain nulls (`TextAnalysis.tokens`
  * never produces them) — `array_join`'s null-skipping has no counterpart
  * here.
  */
case class WordShingleHashExpr(child: Expression, n: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"word_shingle_hash requires array<string>, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    WordShingleHashExpr.shinglesOf(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, toks =>
      s"${ev.value} = graft.expressions.WordShingleHashExpr.shinglesOf($toks, $n);")

  override protected def withNewChildInternal(newChild: Expression): WordShingleHashExpr =
    copy(child = newChild)

  override def prettyName: String = "word_shingle_hash"
}

object WordShingleHashExpr {

  private val P = 2147483647L
  private val SPACE = UTF8String.fromString(" ")

  /** One-pass kernel: hash every n-token gram, sort, dedupe. */
  def shinglesOf(toks: ArrayData, n: Int): GenericArrayData = {
    val cnt = toks.numElements()
    val words = new Array[UTF8String](cnt)
    var i = 0
    while (i < cnt) { words(i) = toks.getUTF8String(i); i += 1 }
    val count = if (cnt >= n) cnt - n + 1 else 1
    val hashes = new Array[Long](count)
    if (cnt >= n) {
      val window = new Array[UTF8String](n)
      i = 0
      while (i < count) {
        System.arraycopy(words, i, window, 0, n)
        val gram = UTF8String.concatWs(SPACE, window: _*)
        val h = XxHash64Function.hash(gram, StringType, 42L) % P
        hashes(i) = if (h < 0) h + P else h
        i += 1
      }
    } else {
      val gram = UTF8String.concatWs(SPACE, words: _*)
      val h = XxHash64Function.hash(gram, StringType, 42L) % P
      hashes(0) = if (h < 0) h + P else h
    }
    java.util.Arrays.sort(hashes)
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

  /** Column entry point: sorted distinct hashed word n-grams. */
  def wordShingleHashes(tokens: Column, n: Int): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      WordShingleHashExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(tokens), n))
}
