package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, quality scoring, language-ID heuristics, and document
  * fingerprinting. All pure built-in-expression compositions — they run
  * inside whole-stage codegen, shuffle nothing, and scale linearly with
  * input partitions (per-row work only).
  */
object TextAnalysis {

  /** Whitespace tokens with empties removed. */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(c: Column): Column = size(tokens(c)).cast("long")

  /** Sliding-token-window document CHUNKING — the embedding/context-prep
    * op every retrieval or long-context training pipeline runs before
    * vectorizing: each document splits into windows of `chunkTokens`
    * whitespace tokens advancing by `stride` (overlap = chunkTokens −
    * stride preserves context across cuts). Window count is
    * 1 + ceil(max(n − C, 0) / S) — every token is covered, the last
    * window may run short, a ≤ C-token document is exactly one chunk,
    * and an empty/null document yields NO chunks. Pure per-row
    * generator work (tokenize once, slice per window) — no shuffle, no
    * state; at 100 TB the op is embarrassingly parallel and output size
    * is input × (C/S) overlap factor, the caller's knob. All integer
    * arithmetic, so the whole layout restates in SQL (q168).
    *
    * Output: (id, chunk_id, chunk_text, n_tokens), chunk_id 0-based. */
  def chunkDocuments(df: org.apache.spark.sql.DataFrame, idCol: String,
                     textCol: String, chunkTokens: Int, stride: Int)
      : org.apache.spark.sql.DataFrame = {
    require(chunkTokens >= 1, s"chunkDocuments: chunkTokens $chunkTokens < 1")
    require(stride >= 1 && stride <= chunkTokens,
      s"chunkDocuments: stride $stride outside [1, $chunkTokens]")
    val n = size(col("_toks"))
    val nChunks = (lit(1) + floor(
      (greatest(n - chunkTokens, lit(0)) + (stride - 1)).cast("double")
        / stride)).cast("int")
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) > 0)
      .select(col(idCol),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          k => slice(col("_toks"), k * stride + 1, lit(chunkTokens))))
          .as(Seq("chunk_id", "_ctoks")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        array_join(col("_ctoks"), " ").as("chunk_text"),
        size(col("_ctoks")).cast("long").as("n_tokens"))
  }

  /** BPE-ish token count HEURISTIC: alphanumeric runs and single
    * punctuation marks each count as one token (a cheap regex proxy —
    * q22's explicit heuristic count). For numbers that measure a real
    * subword vocabulary use [[bpeTokenCountVocab]]. */
  def bpeTokenCount(c: Column): Column =
    size(regexp_extract_all(lower(c), lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")

  /** REAL subword token count: greedy longest-match segmentation against
    * the embedded BPE vocabulary (`graft/bpe_vocab.txt`) via a codegen'd
    * native expression — fertility computed with this measures an actual
    * vocabulary, not the regex proxy. See
    * [[graft.expressions.BpeTokenCountExpr]] for the exact (oracle-
    * restatable) semantics. */
  def bpeTokenCountVocab(c: Column): Column =
    graft.expressions.BpeTokenCountExpr.bpeTokenCountVocab(c)

  /** Ratio of punctuation characters to all characters. */
  def punctRatio(c: Column): Column =
    regexp_count(c, lit("[^A-Za-z0-9\\s]")).cast("double") /
      greatest(length(c), lit(1)).cast("double")

  val defaultStopwords: Seq[String] =
    Seq("the", "a", "an", "and", "or", "of", "to", "in", "is", "it")

  /** Ratio of stopword tokens to all tokens. */
  def stopwordRatio(c: Column): Column = {
    val toks = tokens(c)
    size(filter(toks, t => lower(t).isInCollection(defaultStopwords)))
      .cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Composite quality score in [0,1]: favors longer documents with low
    * punctuation density and a healthy stopword ratio. Deterministic double
    * arithmetic (identical in any engine evaluating the same formula). */
  def qualityScore(c: Column): Column =
    lit(0.5) * least(length(c).cast("double") / lit(1000.0), lit(1.0)) +
      lit(0.3) * (lit(1.0) - punctRatio(c)) +
      lit(0.2) * stopwordRatio(c)

  /** Language marker words for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is"),
    "es" -> Seq("el", "la", "de", "los"),
    "de" -> Seq("der", "und", "die", "das"),
    "fr" -> Seq("le", "et", "les", "des"))

  /** Per-language marker-hit score. */
  def langScore(c: Column, markers: Seq[String]): Column =
    size(filter(tokens(lower(c)), t => t.isInCollection(markers))).cast("long")

  /** Heuristic language-ID: argmax marker score with a fixed priority-order
    * tiebreak (en > es > de > fr). */
  def langId(c: Column): Column = {
    val scores = langMarkers.map { case (l, m) => l -> langScore(c, m) }
    val Seq(en, es, de, fr) = scores.map(_._2)
    when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  /** Normalized document fingerprint: md5 over lowercase
    * whitespace-normalized text (stable across engines). */
  def fingerprint(c: Column): Column =
    md5(array_join(tokens(lower(c)), " "))

  /** Boilerplate cleanup for scraped corpora: markup tags → space, then
    * whitespace collapsed and trimmed. Pure codegen'd regexps — the first
    * pass every web-scrape ingest runs before analysis/dedup. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(regexp_replace(c, "<[^>]*>", " "), "\\s+", " "))

  /** Full HTML → text extraction for crawl ingest ([[cleanText]] plus
    * the parts a real page needs): `<script>`/`<style>` blocks drop
    * WHOLE (their contents are code, not text — a tag-strip alone
    * would leak JavaScript into the corpus), remaining tags → space,
    * the six ubiquitous character entities decode (`&amp;` LAST so
    * `&amp;lt;` stays the literal `&lt;` the author wrote), then
    * whitespace collapses. Pure codegen'd regexp/replace chain —
    * RE2-compatible patterns (non-greedy, (?is), no backrefs), so the
    * DuckDB oracle restates it verbatim. */
  def htmlText(c: Column): Column = {
    // 1. closed script/style blocks go whole; an UNCLOSED opener then
    //    swallows to EOF (real crawl HTML truncates mid-script — the
    //    leftover must not leak into text as words)
    val noBlocks = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(c, "(?is)<script.*?</script>", " "),
      "(?is)<style.*?</style>", " "),
      "(?is)<script.*", " "), "(?is)<style.*", " ")
    // 2. CDATA sections and comments (incl. IE conditional comments,
    //    whose bodies contain '>' that breaks a naive tag regex);
    //    unclosed variants swallow to EOF like scripts
    val noCdata = regexp_replace(regexp_replace(regexp_replace(
      regexp_replace(noBlocks, "(?s)<!\\[CDATA\\[.*?\\]\\]>", " "),
      "(?s)<!\\[CDATA\\[.*", " "),
      "(?s)<!--.*?-->", " "), "(?s)<!--.*", " ")
    val noTags = regexp_replace(noCdata, "(?s)<[^>]*>", " ")
    // 3. numeric character references (&#NNNN; / &#xHHHH;) BEFORE the
    //    named table: '&amp;#65;' has no '&#' adjacency so stays
    //    literal through this stage and decodes to '&#65;' at the end,
    //    matching the named-entity double-escape discipline. Native
    //    expression, not a split/transform/zip_with composition — the
    //    lambda HOFs would drop the whole projection out of
    //    whole-stage codegen (the PlanShapeSpec pin).
    val numDecoded =
      graft.expressions.HtmlNumericRefsExpr.htmlNumericRefs(noTags)
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#39;" -> "'",
      "&nbsp;" -> " ", "&amp;" -> "&"
    ).foldLeft(numDecoded) { case (col0, (ent, ch)) =>
      replace(col0, lit(ent), lit(ch)) // literal, not regex — and the
                                       // same builtin DuckDB restates
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }
}
