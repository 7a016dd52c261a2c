package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus observability — the "data card" numbers every large-scale
  * training-data pipeline publishes alongside its shards: per-slice volume
  * and length statistics, duplication rates per source, and tokenizer
  * vocabulary coverage. All plain aggregations that combine map-side; the
  * only ordered step (vocabulary ranking) runs on a k-bounded frame.
  */
object CorpusStats {

  /** Per (source, lang) slice: document count, token volume, char volume,
    * and exact n_chars percentiles (linear interpolation — the same formula
    * DuckDB's quantile_cont uses, so the doubles restate exactly). */
  def corpusStats(df: DataFrame, sourceCol: String, langCol: String,
                  textCol: String, charsCol: String): DataFrame =
    df.select(col(sourceCol), col(langCol), col(charsCol),
        TextAnalysis.tokenCount(col(textCol)).as("_tok"))
      .groupBy(col(sourceCol), col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_tok")).as("n_tokens"),
        sum(col(charsCol)).as("n_chars_total"),
        expr(s"percentile($charsCol, 0.5)").as("p50_chars"),
        expr(s"percentile($charsCol, 0.95)").as("p95_chars"))

  /** Exact-duplicate rate per source: a document is a duplicate when some
    * LOWER-id document carries byte-identical text (the [[Dedup.exactDedup]]
    * min-id keeper rule). One min_by-style aggregation on the text hash plus
    * one id-keyed join — no window, skew-safe. */
  def dupRateBySource(df: DataFrame, idCol: String, textCol: String,
                      sourceCol: String): DataFrame = {
    val keepers = Dedup.exactDedup(df, textCol, idCol)
      .select(col(idCol)).withColumn("_graft_keep", lit(1))
    df.select(col(idCol), col(sourceCol))
      .join(keepers, Seq(idCol), "left")
      .groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        count(col("_graft_keep")).as("n_unique"))
      .withColumn("n_dups", col("n_docs") - col("n_unique"))
      .withColumn("dup_rate",
        col("n_dups").cast("double") / col("n_docs").cast("double"))
  }

  /** Tokenizer-style vocabulary coverage: the top-k corpus terms by
    * occurrence (ties → term order), each with its cumulative share of all
    * token occurrences — "how much of the corpus do V vocabulary entries
    * cover". The distributed part is one map-side-combining count; the
    * ordered prefix sum runs over only the k retained rows. Counts are
    * exact integers divided once by the exact total, so the doubles
    * restate bit-identically. */
  def vocabCoverage(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // localCheckpoint, not persist: two consumers (total + top-k), and
    // the blocks are ContextCleaner-reclaimed — no cache residue
    val counts = df.select(
        explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val total = counts.agg(sum(col("cnt")).as("n_total"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term"))
    counts.orderBy(col("cnt").desc, col("term")).limit(k)
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_cnt", sum(col("cnt")).over(w))
      .crossJoin(broadcast(total))
      .select(col("rank"), col("term"), col("cnt"),
        (col("cum_cnt").cast("double") / col("n_total").cast("double"))
          .as("cum_coverage"))
  }

  /** Tokenizer-fertility slice: per group (typically language), the
    * subword-token-per-word and character-per-token ratios — the numbers
    * that decide whether a tokenizer underserves a language (high
    * fertility → more sequence budget burned per word). Token counts
    * come from the REAL embedded BPE vocabulary
    * ([[TextAnalysis.bpeTokenCountVocab]]), so fertility measures an
    * actual subword segmentation, not a regex proxy. Exact integer
    * volumes divided once at the end, so the doubles restate
    * bit-identically. */
  def tokenizerFertility(df: DataFrame, groupCol: String,
                         textCol: String): DataFrame =
    df.select(col(groupCol),
        TextAnalysis.tokenCount(col(textCol)).as("_ws"),
        TextAnalysis.bpeTokenCountVocab(col(textCol)).as("_bpe"),
        length(col(textCol)).cast("long").as("_chars"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_ws")).as("n_words"),
        sum(col("_bpe")).as("n_bpe_tokens"),
        sum(col("_chars")).as("n_chars"))
      .withColumn("fertility",
        col("n_bpe_tokens").cast("double") /
          greatest(col("n_words"), lit(1L)).cast("double"))
      .withColumn("chars_per_token",
        col("n_chars").cast("double") /
          greatest(col("n_bpe_tokens"), lit(1L)).cast("double"))

  /** Robust per-group length-outlier gate: median + MAD (median absolute
    * deviation) per group, keep rows with deviation ≤ 3·MAD — the
    * outlier rule that survives the heavy-tailed length distributions a
    * mean/stddev z-score is wrecked by (one book among tweets drags the
    * mean; it cannot drag the median).
    *
    * Scale shape: two grouped exact percentiles (group count is
    * source-bounded, so the per-group state is fine) joined back
    * broadcast; the corpus itself never shuffles. The input is scanned
    * twice (median pass + deviation pass) — persist at the call site.
    *
    * Numeric contract: percentile interpolation is linear (≡ DuckDB
    * quantile_cont, the q52/q78 seam); integer lengths make the median a
    * multiple of 0.5, deviations |int − k·0.5| are again multiples of 0.5,
    * so every interpolated double is EXACT and the keep flag restates
    * bit-for-bit externally. */
  def lengthOutlierReport(df: DataFrame, idCol: String, groupCol: String,
                          lenCol: String): DataFrame = {
    val med = df.groupBy(col(groupCol))
      .agg(expr(s"percentile($lenCol, 0.5)").as("med"))
    val withDev = df.select(col(idCol), col(groupCol), col(lenCol))
      .join(broadcast(med), groupCol)
      .withColumn("dev", abs(col(lenCol) - col("med")))
    val mad = withDev.groupBy(col(groupCol))
      .agg(expr("percentile(dev, 0.5)").as("mad"))
    withDev.join(broadcast(mad), groupCol)
      .withColumn("keep", col("dev") <= lit(3.0) * col("mad"))
      .select(col(idCol), col(groupCol), col(lenCol),
        col("med"), col("mad"), col("keep"))
  }
}
