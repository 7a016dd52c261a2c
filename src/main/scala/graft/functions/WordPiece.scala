package graft.functions

import org.apache.spark.sql.Column

/** WordPiece tokenizer APPLICATION — the greedy longest-match-first
  * subword segmentation BERT-family pipelines run over every document
  * (reference semantics: the tokenize step of the LLM-pipeline surface,
  * companion to [[Bpe]]'s merge-table tokenizer; vocab in, `##`
  * continuation prefixes out, whole-word `[UNK]` on any unmatched
  * position).
  *
  * Scale shape: the vocabulary is a broadcast-sized reference object
  * inside one codegen'd expression ([[graft.expressions
  * .WordPieceApplyExpr]]) — per-row cost is word length × longest
  * vocab token, independent of vocabulary size; no join, no shuffle,
  * no per-row vocab copy.
  */
object WordPiece {

  /** Tokenize a word column against a fixed vocabulary. Returns the
    * `|`-delimited token string (`|play|##ing`), or `|[UNK]` when the
    * word has an unmatchable position or exceeds `maxWordChars`
    * codepoints (HF WordPiece semantics). */
  def applyVocab(word: Column, vocab: Seq[String],
                 maxWordChars: Int = 100): Column = {
    require(vocab.nonEmpty, "wordpiece: vocabulary must be non-empty")
    org.apache.spark.sql.graft.ColumnBridge.column(
      graft.expressions.WordPieceApplyExpr(
        org.apache.spark.sql.graft.ColumnBridge.expression(word),
        vocab, "[UNK]", maxWordChars))
  }
}
