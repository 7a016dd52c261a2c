package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact substring-span deduplication report (the bounded, span-level
  * counterpart of document dedup — cf. "Deduplicating Training Data Makes
  * Language Models Better", Lee et al. 2022): every n-token window (stride
  * 1) of every document is hashed, and a window is *duplicated* when the
  * identical token span occurs anywhere else in the corpus — another
  * document or a second position of the same document. Per document the
  * report carries its window count, duplicated-window count, and the
  * duplicated fraction that a span-removal pass would cut.
  *
  * Scale shape (100 TB): spans never materialize as strings beyond the
  * per-row hash lambda — only 8-byte hashes are exploded. Both aggregations
  * ((doc, hash) then (hash)) combine map-side; the totals join is an
  * equi-join on the span hash that AQE sizes at runtime. Nothing driver-side.
  *
  * The span hash is the portable md5-top-60-bit seam
  * (`Hash60Expr.hash60`'s SQL form), so a DuckDB oracle restates
  * the whole report bit-for-bit; with 60-bit hashes a corpus of 10¹²
  * windows sees ~0.4 collisions (birthday bound), and a collision only
  * flags one extra window — acceptable for a curation gate.
  */
object SpanDedup {

  /** Portable 60-bit span hash (md5 top 15 hex digits), non-negative. */
  private def hash60(t: Column): Column =
    conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long")

  /** All n-token window hashes (stride 1) of a token-array column, on the
    * portable md5-top-60-bit seam — computed by the fused
    * [[graft.expressions.SpanHash60Expr]] kernel (one digest pass per
    * window, no per-window Column-machinery allocations; bit-exact with
    * [[spanHashesSql]], pinned by SpanDedupSpec). Documents shorter than n
    * yield no windows. */
  def spanHashes(toks: Column, n: Int): Column = {
    require(n >= 1, s"span width must be >= 1, got $n")
    graft.expressions.SpanHash60Expr.spanHashes60(toks, n)
  }

  /** The built-ins-only reference form of [[spanHashes]] — the exact
    * expression chain the DuckDB oracles restate. Kept as the equality pin
    * for the fused kernel; prefer [[spanHashes]] (same values, one-pass).
    * IMPORTANT if used directly: pass a *bound* column (materialize the
    * token array into a real column first) — higher-order-function lambdas
    * re-evaluate captured expressions per element, so an inline
    * `tokens(text)` here is O(m²) per document. */
  def spanHashesSql(toks: Column, n: Int): Column = {
    require(n >= 1, s"span width must be >= 1, got $n")
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => hash60(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<long>"))
  }

  /** Per-document duplicated-span report: `(id, n_spans, n_dup_spans,
    * dup_span_frac, keep)`. Documents with fewer than n tokens have zero
    * windows and are kept (frac 0). `keep` = dup_span_frac <= 0.5.
    * Spans hash with the oracle-portable md5 kernel ([[spanHashes]]). */
  def spanReport(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val spans = df
      .select(col(idCol), TextAnalysis.tokens(lower(col(textCol))).as("_toks"))
      .select(col(idCol), explode(spanHashes(col("_toks"), n)).as("h"))
    // (doc, hash) pre-aggregation is the map-side combine: repeated spans
    // within one document collapse before the hash-keyed shuffle. NOT
    // persisted: both consumers (totals, join) sit on the identical
    // Exchange(id, h) subplan, which AQE reuses (ReusedExchange) — the
    // explode runs once; a persist here only adds materialization cost
    // (measured +0.4s at sf0.1)
    val perDoc = spans.groupBy(col(idCol), col("h"))
      .agg(count(lit(1)).as("cnt"))
    val totals = perDoc.groupBy(col("h")).agg(sum(col("cnt")).as("total"))
    val agg = perDoc.join(totals, "h")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_spans"),
        sum(when(col("total") >= 2, col("cnt")).otherwise(lit(0L)))
          .as("n_dup_spans"))
    // short documents produce no windows — restore them via a left join
    // from the (column-pruned) id scan so every input row reports
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_span_frac",
        col("n_dup_spans").cast("double") /
          greatest(col("n_spans"), lit(1L)).cast("double"))
      .withColumn("keep", col("dup_span_frac") <= lit(0.5))
  }

  /** Winnowed fingerprint selection (Schleimer, Wilkerson & Aiken 2003 —
    * the MOSS algorithm): from a document's span-hash sequence, keep the
    * minimum of every `w`-wide window, deduplicated. Guarantee: two
    * documents sharing any token run of at least `w + n − 1` tokens share
    * at least one fingerprint; density drops to ~2/(w+1) of all spans.
    * This is THE scale lever for substring dedup at 100 TB: the full span
    * explode ships every window hash into the shuffle, winnowing ships a
    * bounded-density fingerprint subset with a provable recall floor.
    *
    * `spans` must be a BOUND column (materialize [[spanHashes]] into a
    * real column first — the slicing lambda captures it; inline it and the
    * O(m²) re-evaluation trap applies). Documents with fewer than `w`
    * spans contribute their single overall minimum (shorter-than-n docs
    * have no spans and yield an empty set). */
  def winnowFromSpans(spans: Column, w: Int): Column = {
    require(w >= 1, s"winnow window must be >= 1, got $w")
    array_distinct(
      when(size(spans) >= w,
        transform(sequence(lit(0), size(spans) - w),
          i => array_min(slice(spans, i + lit(1), lit(w)))))
        .when(size(spans) > 0, array(array_min(spans)))
        .otherwise(array().cast("array<long>")))
  }

  /** Per-document winnowed-fingerprint report: `(id, n_fps,
    * n_shared_fps)` — the document's fingerprint count and how many of
    * those fingerprints at least one OTHER document also carries (each
    * document contributes its distinct set once, so a fingerprint's
    * document frequency ≥ 2 means two different documents). Same
    * two-aggregation shuffle shape as [[spanReport]], but over the
    * winnowed subset — the exchange carries ~2/(w+1) of the span
    * volume. */
  def winnowReport(df: DataFrame, idCol: String, textCol: String, n: Int,
                   w: Int): DataFrame = {
    val fps = df
      .select(col(idCol), TextAnalysis.tokens(lower(col(textCol))).as("_toks"))
      .select(col(idCol), spanHashes(col("_toks"), n).as("_spans"))
      .select(col(idCol), explode(winnowFromSpans(col("_spans"), w)).as("fp"))
    // fps feeds two branches (frequency derivation + the sharing join).
    // No materialization: a per-(id, fp) aggregation parks the expensive
    // tokenize/hash/winnow/explode pipeline below ONE Exchange((id, fp)),
    // and the EXPLICIT null filters below it match what the inner join
    // would push into only its own branch — with both branches
    // canonically identical, AQE reuses the shuffle stage and the explode
    // runs once. (Probed at sf0.1: eager localCheckpoint 1.8-2.0 s, this
    // shape 1.6 s, and persist() left cache residue.) The groupBy is a
    // semantic no-op — winnowFromSpans array_distincts per document, so
    // (id, fp) rows are already unique; explode drops null array slots so
    // the fp filter is vacuous too.
    val perDoc = fps
      .filter(col(idCol).isNotNull && col("fp").isNotNull)
      .groupBy(col(idCol), col("fp")).agg(count(lit(1)).as("_c"))
    val docFreq = perDoc.groupBy(col("fp")).agg(count(lit(1)).as("nd"))
    val agg = perDoc.join(docFreq, "fp")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_fps"),
        sum(when(col("nd") >= 2, lit(1L)).otherwise(lit(0L)))
          .as("n_shared_fps"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_fps"), lit(0L)).as("n_fps"),
        coalesce(col("n_shared_fps"), lit(0L)).as("n_shared_fps"))
  }

  /** Token-position cap for [[removeDuplicateSpans]]' packed
    * first-occurrence key (doc_id · 2^20 + pos): documents up to ~1M
    * tokens, ids up to 2^43. Packing keeps the global-first aggregation
    * a numeric min — HashAggregate with map-side combine — where a
    * struct-min buffer would demote it to SortAggregate. */
  val MaxSpanPos: Int = 1 << 20

  /** Largest |doc id| the packed key admits without Long overflow
    * (ids up to 2^43 — Long.MaxValue / 2^20). Beyond it the min-ordering
    * would silently corrupt; [[removeDuplicateSpans]] raises instead. */
  val MaxSpanDocId: Long = Long.MaxValue / MaxSpanPos

  /** Exact-substring dedup REMOVAL — the rewrite pass of Lee et al. 2022
    * (\"Deduplicating Training Data Makes Language Models Better\"), not
    * just the keep/drop report: every n-token window that occurs anywhere
    * else in the corpus BEFORE it (first occurrence = smallest
    * (doc_id, position)) marks its token range for deletion; a document's
    * cleaned text is its surviving tokens rejoined with single spaces
    * (tokenization normalizes whitespace, documented). The first
    * occurrence of every span — and every token outside any duplicated
    * window — survives, so a corpus of exact clones keeps exactly one
    * full copy and within-document repetition keeps its first run.
    *
    * Output: `(id, n_tokens, n_removed, clean_text)`.
    *
    * Scale shape (100 TB): the only per-document state is the covered-
    * position set (bounded by the document's own token count); the
    * global-first decision is one numeric-min aggregation on the span
    * hash (map-side combined), and coverage flows back through one
    * equi-join on the id. No windows, no driver data. The span hash is
    * the portable md5 seam, so the whole rewrite restates in SQL (q154).
    */
  def removeDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
                           n: Int): DataFrame = {
    // null text → empty token array, so null-text rows report (0, 0, "")
    // instead of null-propagating through size()/concat_ws
    val toksed = df.select(col(idCol),
      coalesce(TextAnalysis.tokens(lower(col(textCol))),
        array().cast("array<string>")).as("_toks"))
    val spans = toksed
      .select(col(idCol), posexplode(spanHashes(col("_toks"), n))
        .as(Seq("pos", "h")))
      // packed occurrence key; the guards turn a silent mis-ordering on a
      // >2^20-token document OR a >2^43 doc id (packed-key Long overflow)
      // into a loud error. Bounds stated without abs(): in non-ANSI mode
      // abs(Long.MinValue) overflows back to Long.MinValue (negative) and
      // would slip past an abs >= guard
      .withColumn("_k",
        when(col(idCol).cast("long") >= MaxSpanDocId ||
            col(idCol).cast("long") <= -MaxSpanDocId,
          raise_error(concat(lit(
            s"removeDuplicateSpans: |doc id| >= $MaxSpanDocId overflows " +
              "the packed first-occurrence key; id "),
            col(idCol).cast("string"))))
          .when(col("pos") < MaxSpanPos,
            col(idCol).cast("long") * MaxSpanPos + col("pos"))
          .otherwise(raise_error(concat(lit(
            s"removeDuplicateSpans: token position >= $MaxSpanPos in doc "),
            col(idCol).cast("string")))))
      // ONE explicit hash exchange feeds both consumers: the global-first
      // aggregation runs partition-local above it and the coverage join
      // requires the identical partitioning, so AQE reuses the shuffle and
      // the tokenize/hash/explode pipeline runs once (the q90 lesson;
      // probed 3.4 → 2.2 s at sf0.1 without it the pipeline ran twice)
      .repartition(col("h"))
    val first = spans.groupBy(col("h")).agg(min(col("_k")).as("_first"))
    val covered = spans.join(first, "h")
      .filter(col("_k") =!= col("_first"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("_cut"))
      .groupBy(col(idCol)).agg(collect_set(col("_cut")).as("_cov"))
    toksed.join(covered, Seq(idCol), "left")
      .withColumn("_cov",
        coalesce(col("_cov"), array().cast("array<integer>")))
      .select(col(idCol),
        size(col("_toks")).cast("long").as("n_tokens"),
        size(col("_cov")).cast("long").as("n_removed"),
        concat_ws(" ", transform(
          filter(
            transform(col("_toks"), (t, i) => struct(t.as("t"), i.as("i"))),
            s => !array_contains(col("_cov"), s("i"))),
          s => s("t"))).as("clean_text"))
  }
}
