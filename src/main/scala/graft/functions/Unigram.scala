package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer APPLICATION: Viterbi
  * segmentation against a scored vocabulary — the DP tokenizer next to
  * [[Bpe]] (merge rules) and [[WordPiece]] (greedy longest match).
  * Scores are exact scaled integers so the optimal path value — and,
  * through the longest-consistent-token backtrack rule, the chosen
  * segmentation itself — is engine-portable with no float comparison.
  *
  * Scale shape: identical to [[WordPiece]] — the scored vocabulary is
  * one broadcast-sized reference object inside a codegen'd expression
  * ([[graft.expressions.UnigramApplyExpr]]); per-row cost is word
  * length × longest token, vocabulary-size-independent. */
object Unigram {

  /** Tokenize a word column: the maximum-total-score segmentation as a
    * `|`-delimited token string, or `|[UNK]` when no full segmentation
    * exists or the word exceeds `maxWordChars` codepoints. Equal-score
    * segmentations resolve by taking the longest token at each
    * backtrack position (spec-pinned, oracle-shared). */
  def applyVocab(word: Column, vocab: Seq[(String, Long)],
                 maxWordChars: Int = 100): Column = {
    require(vocab.nonEmpty, "unigram: vocabulary must be non-empty")
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.UnigramApplyExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(word),
        vocab, "[UNK]", maxWordChars))
  }

  /** Vocabulary UTILITY for pruning (the SentencePiece curation step):
    * Viterbi-segment a `(word, freq)` vocabulary frame, count each
    * token's frequency-weighted usage, and emit the exact
    * cross-multiplied keep verdict `usage * shareDen >= total` (keep
    * tokens carrying at least 1/shareDen of the segmented token mass;
    * the `unk` pseudo-token competes like any other, so a vocabulary
    * that UNKs too much of the corpus shows it as data).
    *
    * Scale shape: the corpus was already reduced to the word-frequency
    * frame upstream ([[Bpe.wordCounts]]); this is one codegen'd
    * segmentation pass over it, a map-side-combinable token count
    * (token-vocabulary-sized result), and a 1-row broadcast total —
    * no window, no second corpus scan. */
  def vocabUtility(words: DataFrame, wordCol: String, freqCol: String,
                   vocab: Seq[(String, Long)], shareDen: Long,
                   maxWordChars: Int = 100): DataFrame = {
    require(shareDen > 0, "unigram: shareDen must be positive")
    val toks = words.select(col(freqCol).as("_freq"),
      explode(filter(
        split(applyVocab(col(wordCol), vocab, maxWordChars), "\\|"),
        x => x =!= "")).as("token"))
    val usage = toks.groupBy(col("token")).agg(sum(col("_freq")).as("usage"))
    val tot = usage.agg(sum(col("usage")).as("_total"))
    usage.crossJoin(broadcast(tot))
      .select(col("token"), col("usage"),
        (col("usage") * shareDen >= col("_total")).as("keep"))
  }
}
