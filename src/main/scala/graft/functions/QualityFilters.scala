package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.Hash60Expr

/** Model-based and repetition-based quality filters for training corpora —
  * the two standard gates after rule-based cleaning:
  *
  *   - a LINEAR CLASSIFIER over hashed token features (the fasttext-style
  *     quality model, run in inference mode with fixed weights): per-token
  *     bucket → weight lookup → mean logit. Pure per-row expressions, no
  *     shuffle, linear in corpus size;
  *   - REPETITION metrics (the Gopher-rule family): duplicate-token
  *     fraction, duplicate-line fraction, and the most-frequent-bigram
  *     fraction. Per-row higher-order functions only.
  *
  * Arithmetic is engine-portable by construction: the token hash is the
  * md5-derived 60-bit portable hash ([[Hash60Expr]], the seam every
  * portable sketch and dedup family shares),
  * weights are integer-derived dyadic rationals, and the only float ops are
  * sequential sums and a final division.
  */
object QualityFilters {

  /** Fixed deterministic weight for a token: hash to one of `buckets`
    * feature buckets, then a Knuth-multiplicative integer mix mapped onto
    * [-1, 1) in steps of 1/2048 — exactly representable doubles, so the
    * identical value is statable in any engine. */
  def tokenWeight(t: Column): Column =
    ((pmod(Hash60Expr.hash60(t.cast("binary")), lit(1024L)) * lit(2654435761L)) % lit(4096L)
      - lit(2048L)).cast("double") / lit(2048.0)

  /** Mean token logit over an already-lowercased token-array column.
    * Empty documents score 0. Accumulation is sequential (left-to-right
    * over the token order). Safe with inline token expressions too: the
    * array is the `aggregate` ARGUMENT (evaluated once per row), never
    * captured inside the lambda. */
  def linearScoreFromTokens(toks: Column): Column =
    aggregate(toks, lit(0.0), (acc, t) => acc + tokenWeight(t)) /
      greatest(size(toks), lit(1)).cast("double")

  /** Mean token logit under the hashed linear model — the document's
    * quality score. */
  def linearScore(textCol: Column): Column =
    linearScoreFromTokens(TextAnalysis.tokens(lower(textCol)))

  /** Fraction of tokens that are repeats of an earlier token. */
  def dupTokenFrac(toks: Column): Column =
    (size(toks) - size(array_distinct(toks))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")

  /** Fraction of fixed-width lines that are repeats within the document.
    * `toks` must be a MATERIALIZED token-array column (see
    * [[LineDedup.linesFromTokens]] — the line lambda captures it, and a
    * captured inline tokenization re-runs per lambda element, O(m²)). */
  def dupLineFrac(toks: Column): Column = {
    val ls = LineDedup.linesFromTokens(toks, 5)
    (size(ls) - size(array_distinct(ls))).cast("double") /
      greatest(size(ls), lit(1)).cast("double")
  }

  /** Adjacent-token bigrams; fewer than two tokens → empty. `toks` must be
    * a materialized column — the slicing lambda captures it. */
  def bigrams(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => array_join(slice(toks, i, lit(2)), " ")))
      .otherwise(array().cast("array<string>"))

  /** Count of the most frequent bigram, via a sorted run-length walk —
    * O(m log m) per document (not the all-pairs O(m²) count), so it holds
    * up on book-length documents too. The result is an exact integer, so
    * any correct formulation (e.g. an all-pairs recount in a test oracle)
    * agrees bit-for-bit. */
  def topBigramCount(toks: Column): Column =
    aggregate(array_sort(bigrams(toks)),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1)
          .otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** Most-frequent-bigram fraction of all bigrams (0 when < 2 tokens).
    * The denominator is `size(toks) − 1` directly — building the bigram
    * array a second time just to take its size would double the O(m)
    * array work per row. */
  def topBigramFrac(toks: Column): Column =
    topBigramCount(toks).cast("double") /
      greatest(size(toks) - 1, lit(1)).cast("double")
}
