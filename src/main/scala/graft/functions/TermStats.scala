package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level term statistics for training-data curation: term/document
  * frequencies, BM25-style term salience, and global heavy hitters.
  *
  * Scale posture: everything is one explode followed by hash aggregations
  * that combine map-side — a stopword appearing in every document becomes
  * ONE partial count per input partition, never a shuffled row per
  * occurrence. The document-frequency table is vocabulary-sized; it joins
  * the term-frequency table on the term key (AQE picks broadcast when the
  * vocabulary is small, shuffle-hash when it isn't). The only driver-side
  * value is the corpus row count + average length (a 1-row aggregate,
  * broadcast back via crossJoin).
  *
  * Numeric contract: the salience score uses the RATIONAL BM25 idf
  * `(N − df + 0.5) / (df + 0.5)` by default-off `logIdf = true` — with
  * `logIdf = false` every arithmetic step is +, −, ×, ÷ on doubles (IEEE,
  * bit-identical across engines), which is what the DuckDB oracle needs.
  * The log is monotone, so per-document term RANKING is identical either
  * way; production callers keep the textbook `ln` form.
  */
object TermStats {

  /** One row per (doc, token occurrence): lowercased whitespace tokens. */
  def termPairs(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      explode(TextAnalysis.tokens(lower(col(textCol)))).as("term"))

  /** Per-(doc, term) counts — the classic TF table. */
  def termFrequencies(df: DataFrame, idCol: String,
                      textCol: String): DataFrame =
    termPairs(df, idCol, textCol)
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))

  /** Per-term document frequency, derived from the TF table (already one
    * row per (doc, term), so a plain count is the distinct-doc count). */
  def docFrequencies(tf: DataFrame): DataFrame =
    tf.groupBy("term").agg(count(lit(1)).as("df"))

  private val K1 = 1.2
  private val B = 0.75

  /** Top-`k` most salient terms per document by BM25 scoring
    * (K1, B are the standard Robertson constants). Ties break on the term
    * itself so the output is deterministic. Output: (id, term, tf, score),
    * one row per kept term. */
  def bm25TopTerms(df: DataFrame, idCol: String, textCol: String, k: Int,
                   logIdf: Boolean = true): DataFrame = {
    val tf = termFrequencies(df, idCol, textCol)
    val dfreq = docFrequencies(tf)
    val lens = df.select(col(idCol),
      TextAnalysis.tokenCount(col(textCol)).as("len"))
    val stats = df.agg(count(lit(1)).cast("double").as("n_docs"))
      .crossJoin(lens.agg(avg(col("len")).as("avg_len")))
    val idfRaw = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val idf = if (logIdf) log(idfRaw + lit(1.0)) else idfRaw
    val core = col("tf").cast("double") * lit(K1 + 1.0) /
      (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("len") / col("avg_len")))
    val scored = tf.join(dfreq, "term")
      .join(lens, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("score", idf * core)
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term"))))
      .filter(col("rk") <= k)
      .select(col(idCol), col("term"), col("tf"), col("score"))
  }

  /** Global heavy hitters: the `k` most frequent tokens with their total
    * occurrence count and document frequency. The occurrence count
    * combines map-side; the doc frequency rides the (doc, term) table.
    * Ties break on the term. */
  def heavyHitters(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame =
    termFrequencies(df, idCol, textCol)
      .groupBy("term")
      .agg(sum("tf").as("occurrences"), count(lit(1)).as("doc_freq"))
      .orderBy(col("occurrences").desc, col("term"))
      .limit(k)

  /** Per-document out-of-vocabulary rate against the corpus' own top-K
    * token vocabulary — the tokenizer-coverage / domain-shift signal a
    * curation pipeline tracks before committing to a vocab size. Output:
    * (id, n_tokens, n_oov, oov_rate), one row per non-empty document.
    *
    * Scale: the vocabulary is K rows — broadcast; the exploded corpus
    * never shuffles for the membership probe, and the only shuffle is the
    * per-document aggregation on the unique id key. The corpus is scanned
    * twice (vocabulary derivation + probe) — persist `df` at the call
    * site when it is not a plain scan. */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val vocab = heavyHitters(df, idCol, textCol, vocabSize)
      .select(col("term")).withColumn("_in_vocab", lit(1))
    termPairs(df, idCol, textCol)
      .join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        count(when(col("_in_vocab").isNull, 1)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast("double") / col("n_tokens").cast("double"))
  }

  /** Adjacent-token pairs of each document, in order: (id, w1, w2). */
  def bigramPairs(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextAnalysis.tokens(lower(col(textCol)))
    val n = greatest(size(toks) - 1, lit(0))
    df.select(col(idCol),
        explode(zip_with(slice(toks, lit(1), n), slice(toks, lit(2), n),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** Collocations: bigrams ranked by pointwise mutual information. PMI =
    * log( p(ab) / (p(a)·p(b)) ) = log( N·c(ab) / (c(a)·c(b)) ); the log is
    * monotone, so ranking uses the RATIONAL inner term — every step is
    * IEEE ×/÷ on exact-integer-valued doubles, bit-identical across engines
    * (ln is not guaranteed correctly rounded and differs between libm and
    * the JVM). A min count of 5 drops rare pairs whose PMI is spuriously
    * high — the standard collocation-extraction guard. Unigram counts are taken on
    * the bigram event space — c(a) counts a as a FIRST element, c(b) counts
    * b as a SECOND — so numerator and denominator probabilities are over the
    * same N draws.
    *
    * Scale: two map-side-combining aggregations (pair counts, unigram
    * counts) + one join keyed on w1/w2 — vocabulary-sized tables, fact
    * table never re-shuffled wider than its distinct pairs. */
  def collocations(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    val minCount = 5L
    // ONE corpus scan: the unfiltered pair-count table is the sufficient
    // statistic — unigram counts and the grand total are sums over it, so
    // the expensive tokenize+explode never re-runs per branch. The table is
    // vocabulary²-bounded (distinct pairs, not occurrences); materialized
    // with localCheckpoint because four aggregations read it (and unlike a
    // persist, checkpoint blocks are reclaimed once unreferenced).
    val pairCounts0 = bigramPairs(df, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_ab"))
      .localCheckpoint()
    val pairCounts = pairCounts0.filter(col("c_ab") >= minCount)
    val firsts = pairCounts0.groupBy("w1").agg(sum("c_ab").as("c_a"))
    val seconds = pairCounts0.groupBy("w2").agg(sum("c_ab").as("c_b"))
    val total = pairCounts0.agg(sum("c_ab").cast("double").as("n_pairs"))
    pairCounts
      .join(firsts, "w1")
      .join(seconds, "w2")
      .crossJoin(broadcast(total))
      .withColumn("pmi_ratio",
        col("n_pairs") * col("c_ab").cast("double") /
          (col("c_a").cast("double") * col("c_b").cast("double")))
      .select(col("w1"), col("w2"), col("c_ab"), col("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** Sparse TF-IDF retrieval: the top-`k` documents for a bag-of-words
    * query via an inverted-index join — the term-partitioned sparse dot
    * product. The query's term list (tiny) broadcasts against the
    * vocabulary-sized document-frequency table, and only postings of
    * query terms ever move: at 100 TB the corpus-wide TF table is
    * term-partitioned, the probe touches |query| keys of it, and the
    * score aggregation shuffles one narrow row per candidate document.
    *
    * Numeric contract: per-term contributions are SCALED INTEGERS —
    * `floor(qtf · tf · idf · 2^20)` with the rational BM25-style idf
    * `(N − df + 0.5)/(df + 0.5)` — so the distributed sum is
    * order-independent (long addition commutes; double addition does not)
    * and the whole ranking restates exactly in an external engine.
    * Output: (id, score_scaled, n_terms), score-descending, ties on id. */
  def sparseTopK(df: DataFrame, idCol: String, textCol: String,
                 queryText: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val qTerms = queryText.toLowerCase.split("\\s+").filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.length.toDouble).toSeq
    val qDf = qTerms.toDF("term", "qtf")
    val tf = termFrequencies(df, idCol, textCol)
    val dfreq = docFrequencies(tf)
    val nDocs = df.count().toDouble // 1-value driver aggregate — bounded
    // vocabulary ∩ query: at most |query| rows — broadcast to the postings
    val qSide = dfreq.join(broadcast(qDf), "term")
      .select(col("term"), col("qtf"), col("df"))
    tf.join(broadcast(qSide), "term")
      .withColumn("_contrib",
        floor(col("qtf") * col("tf").cast("double") *
          ((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          lit(1048576.0)).cast("long"))
      .groupBy(col(idCol))
      .agg(sum(col("_contrib")).as("score_scaled"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_scaled").desc, col(idCol))
      .limit(k)
  }
}
