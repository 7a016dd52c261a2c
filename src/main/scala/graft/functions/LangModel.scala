package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model surprisal scoring — the CCNet-style "perplexity
  * bucket" quality signal, restated portably: the corpus' own unigram
  * counts are the model, and each document scores the mean per-token
  * surprisal. A document of rare tokens (gibberish, boilerplate hashes,
  * wrong-language text) scores high; common fluent text scores low —
  * downstream curation keeps a middle band or thresholds the tail.
  *
  * Portability: true surprisal is -log2(cnt/N), but `ln` is not correctly
  * rounded and differs between libm and the JVM, so the metric quantizes
  * each factor to its BIT LENGTH — `bits(t) = len(bin(N)) - len(bin(cnt))`,
  * an exact integer both engines compute identically (floor(log2 x) + 1 via
  * the unpadded binary string). The per-document mean divides the exact
  * integer bit sum once at the end, so the double restates bit-identically
  * in a DuckDB oracle.
  *
  * Scale shape (100 TB): one (doc, term) map-side-combining aggregation,
  * one (term) aggregation for the model, one equi-join back on term (the
  * model is vocabulary-sized — AQE broadcasts it when it fits), and the
  * corpus total rides in as a broadcast single-row frame. No driver-side
  * data beyond that one row.
  */
object LangModel {

  /** Per-document mean bit-length surprisal against the corpus' own unigram
    * counts: `(id, n_tokens, sum_bits, mean_bits)`. Empty documents report
    * zero tokens and 0.0 mean. */
  def surprisalReport(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // tf feeds BOTH the model derivation (counts → total) and the scoring
    // join — materialize it so the tokenize+explode+aggregate chain runs
    // once (the multi-branch recompute trap). localCheckpoint, not
    // persist: ContextCleaner-reclaimed, no cache residue across calls
    val tf = df.select(col(idCol),
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      .localCheckpoint()
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val scored = tf.join(counts, "term")
      .crossJoin(broadcast(total))
      // bits(t) = len(bin(N)) - len(bin(cnt)) = floor(log2 N) - floor(log2 cnt)
      .withColumn("bits",
        (length(bin(col("n_total"))) - length(bin(col("cnt")))).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("bits")).as("sum_bits"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"))
      .withColumn("mean_bits",
        col("sum_bits").cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"))
  }

  /** Bigram (first-order) surprisal: each adjacent pair scores the
    * CONDITIONAL bit length `bits(b|a) = len(bin(Σ_x c(a,x))) −
    * len(bin(c(a,b)))` — the quantized −log2 P(b|a). Sharper than the
    * unigram signal: "of the" is cheap even though "of" and "the" are
    * individually common everywhere, while an unnatural pairing of two
    * common words stays expensive. No backoff is needed because the model
    * is the corpus itself — every document's pairs appear in the counts
    * (c ≥ 1 by construction).
    *
    * Output: `(id, n_pairs, sum_bits, mean_bits)`; documents with fewer
    * than 2 tokens report zero pairs, mean 0. Same shuffle shape as the
    * unigram report, keyed by (w1, w2): per-doc pair counts persist to
    * serve both the model derivation and the scoring join. */
  def bigramSurprisalReport(df: DataFrame, idCol: String,
                            textCol: String): DataFrame = {
    // localCheckpoint, not persist: see surprisalReport
    val bf = TermStats.bigramPairs(df, idCol, textCol)
      .groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("bf"))
      .localCheckpoint()
    val pairCounts = bf.groupBy(col("w1"), col("w2"))
      .agg(sum(col("bf")).as("c_ab"))
    // Σ_x c(a, x): occurrences of `a` as a bigram FIRST — the exact
    // conditional denominator (doc-final tokens never open a pair)
    val firstCounts = pairCounts.groupBy(col("w1")).agg(sum(col("c_ab")).as("c_a"))
    val scored = bf.join(pairCounts, Seq("w1", "w2"))
      .join(firstCounts, "w1")
      .withColumn("bits",
        (length(bin(col("c_a"))) - length(bin(col("c_ab")))).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("bf")).as("n_pairs"),
        sum(col("bf") * col("bits")).as("sum_bits"))
    df.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"))
      .withColumn("mean_bits",
        col("sum_bits").cast("double") /
          greatest(col("n_pairs"), lit(1L)).cast("double"))
  }

  /** The absolute discount D = 3/4 as an integer rational. */
  private val DNum = 3L
  private val DDen = 4L

  /** Interpolated Kneser–Ney bigram model, EXACT: one row per distinct
    * bigram with its smoothed conditional probability as a reduced-free
    * integer rational —
    *
    * {{{
    *   P(w2|w1) = max(c(w1,w2) − D, 0) / c(w1·)
    *            + (D · N1+(w1·) / c(w1·)) · (N1+(·w2) / N1+(··))
    * }}}
    *
    * with discount `D = DNum/DDen`, cleared to the common denominator
    * `pkn_den = DDen · c(w1·) · N1+(··)`:
    *
    * {{{
    *   pkn_num = max(c·DDen − DNum, 0) · N1+(··)
    *           + DNum · N1+(w1·) · N1+(·w2)
    * }}}
    *
    * The continuation distribution N1+(·w2)/N1+(··) is what separates
    * KN from plain absolute discounting — "francisco" is frequent but
    * follows only "san", so its continuation mass stays low. All
    * counts are exact integers; nothing transcendental, so the whole
    * model restates in SQL and comparisons/rankings cross-multiply.
    *
    * Scale shape: one corpus scan into per-occurrence pairs, then
    * map-side-combinable aggregates on bigram types; the fan-out
    * frames (per-w1, per-w2, 1-row type total) are type-cardinality
    * and broadcast back. Long bound: `c(w1·) · N1+(··) · DDen` must
    * ride a Long — pre-aggregate per shard or widen to DECIMAL(38,0)
    * past ~10¹⁴ pair occurrences against ~10⁴ types. */
  def kneserNeyBigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pc = TermStats.bigramPairs(df, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_ab"))
      .localCheckpoint() // three aggregates fan out of the type table
    val byW1 = pc.groupBy(col("w1"))
      .agg(sum(col("c_ab")).as("c_a"), count(lit(1)).as("n1p_fwd"))
    val byW2 = pc.groupBy(col("w2")).agg(count(lit(1)).as("n1p_back"))
    val types = pc.agg(count(lit(1)).as("n_types"))
    pc.join(byW1, Seq("w1")).join(byW2, Seq("w2"))
      .crossJoin(broadcast(types))
      .select(col("w1"), col("w2"), col("c_ab"), col("c_a"),
        col("n1p_fwd"), col("n1p_back"), col("n_types"),
        (greatest(col("c_ab") * DDen - DNum, lit(0L)) * col("n_types") +
          lit(DNum) * col("n1p_fwd") * col("n1p_back")).as("pkn_num"),
        (lit(DDen) * col("c_a") * col("n_types")).as("pkn_den"))
  }
}
