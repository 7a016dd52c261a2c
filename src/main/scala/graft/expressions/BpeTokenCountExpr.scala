package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Subword token count against the embedded BPE vocabulary
  * (`graft/bpe_vocab.txt`) — the REAL-tokenizer counterpart of the
  * `[a-z0-9]+|[^a-z0-9\s]` heuristic in `TextAnalysis.bpeTokenCount`:
  * fertility and data-card token columns computed with this expression
  * measure an actual subword vocabulary, not a regex proxy.
  *
  * Semantics (chosen to be ORACLE-RESTATABLE — a DuckDB recursive CTE over
  * the same vocabulary table computes the identical count, see the q95
  * oracle in TrainingData):
  *   - lowercase the text, then scan maximal `[a-z0-9]+` runs and single
  *     non-alnum non-whitespace CODE POINTS (whitespace = RE2's `\s` =
  *     `[\t\n\f\r ]`, matching the DuckDB side the gate compares against
  *     — narrower than Java's `\s`, see [[isSpace]]);
  *   - each non-alnum code point counts 1 (byte-fallback behavior for
  *     symbols outside the vocabulary; a surrogate pair is ONE symbol);
  *   - each alnum run is segmented GREEDY LONGEST-MATCH: repeatedly take
  *     the longest vocabulary unit prefixing the rest of the run — the
  *     maximal-munch application of a learned BPE vocabulary (vs the rank-
  *     merge loop, whose iteration order no SQL engine can restate). All
  *     36 single characters are in the vocabulary, so segmentation always
  *     progresses and never fails.
  *
  * Runs inside whole-stage codegen via a static kernel call (the
  * HashedShinglesExpr pattern); per row the trie walk is O(chars ·
  * max-unit-length) with zero allocation.
  */
case class BpeTokenCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"bpe_token_count requires string, got ${other.simpleString}")
    }

  override def nullSafeEval(input: Any): Any =
    BpeTokenCountExpr.countTokens(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.expressions.BpeTokenCountExpr.countTokens($s);")

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCountExpr =
    copy(child = newChild)

  override def prettyName: String = "bpe_token_count"
}

object BpeTokenCountExpr {

  /** The embedded vocabulary, deduplicated, resource order preserved —
    * the single source of truth for the Spark kernel AND the generated
    * oracle SQL lookup table (TrainingData.bpeVocabSqlValues). */
  lazy val vocabulary: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/bpe_vocab.txt")
    require(in != null, "missing resource graft/bpe_vocab.txt")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      src.getLines()
        .map(_.trim)
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .foreach { l =>
          require(l.forall(c => (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')),
            s"bpe_vocab.txt: unit '$l' must be [a-z0-9]+")
          seen += l
        }
      val units = seen.toSeq
      require((('a' to 'z') ++ ('0' to '9')).forall(c => seen.contains(c.toString)),
        "bpe_vocab.txt must contain all 36 single [a-z0-9] fallback units")
      units
    } finally src.close()
  }

  // --- trie over the 36-char alphabet, flat int arrays, built once ---
  private val R = 36
  @inline private def classify(c: Char): Int =
    if (c >= 'a' && c <= 'z') c - 'a'
    else if (c >= '0' && c <= '9') 26 + (c - '0')
    else -1

  private lazy val (children: Array[Int], terminal: Array[Boolean]) = {
    var cap = 1024
    var ch = Array.fill(cap * R)(-1)
    var term = new Array[Boolean](cap)
    var nNodes = 1 // node 0 = root
    def ensure(n: Int): Unit = if (n >= cap) {
      val newCap = cap * 2
      val nch = Array.fill(newCap * R)(-1)
      System.arraycopy(ch, 0, nch, 0, cap * R)
      ch = nch
      term = java.util.Arrays.copyOf(term, newCap)
      cap = newCap
    }
    vocabulary.foreach { unit =>
      var node = 0
      var i = 0
      while (i < unit.length) {
        val k = classify(unit.charAt(i))
        if (ch(node * R + k) == -1) {
          ensure(nNodes)
          ch(node * R + k) = nNodes
          nNodes += 1
        }
        node = ch(node * R + k)
        i += 1
      }
      term(node) = true
    }
    (ch, term)
  }

  // RE2's \s class — [\t\n\f\r ] — which is what the DuckDB oracle's
  // patterns use. NOTE it is NARROWER than Java regex \s: vertical tab
  // (\u000B) is not whitespace here, so it counts as a symbol token on
  // both engines (the correctness gate compares against the RE2 side).
  @inline private def isSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\f' || c == '\r'

  /** End index (exclusive) of the longest vocabulary unit prefixing `t`
    * at `i`, or -1 when `t(i)` is outside [a-z0-9]. The shared trie-walk
    * kernel behind [[countTokens]] and [[BpeSegmentsExpr]] — single
    * chars are always vocabulary members, so an alnum position always
    * advances by ≥ 1. */
  private[expressions] def longestUnitEnd(t: String, i: Int): Int = {
    if (classify(t.charAt(i)) < 0) return -1
    val ch = children
    val term = terminal
    val len = t.length
    var node = 0
    var j = i
    var lastEnd = i + 1
    var walking = true
    while (walking && j < len) {
      val k = classify(t.charAt(j))
      if (k < 0) walking = false
      else {
        val child = ch(node * R + k)
        if (child == -1) walking = false
        else {
          node = child
          j += 1
          if (term(node)) lastEnd = j
        }
      }
    }
    lastEnd
  }

  /** Codegen kernel: subword token count of one document. */
  def countTokens(s: UTF8String): Long = {
    val t = s.toString.toLowerCase(java.util.Locale.ROOT)
    val len = t.length
    var i = 0
    var n = 0L
    while (i < len) {
      val c = t.charAt(i)
      if (isSpace(c)) i += 1
      else {
        val end = longestUnitEnd(t, i)
        if (end < 0) {
          // symbol: one token per CODE POINT, like the oracle's RE2
          // `[^a-z0-9\s]` — a surrogate PAIR (emoji, supplementary CJK)
          // is one symbol, not two
          n += 1
          i += (if (Character.isHighSurrogate(c) && i + 1 < len &&
            Character.isLowSurrogate(t.charAt(i + 1))) 2 else 1)
        } else { n += 1; i = end }
      }
    }
    n
  }

  /** Column entry point. */
  def bpeTokenCountVocab(text: Column): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      BpeTokenCountExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(text)))
}
