package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Line-level exact deduplication (the "exact substring dedup" pass of
  * training-data curation: boilerplate lines, repeated headers/footers, and
  * licence blocks recur across millions of pages — dedup must act BELOW
  * document granularity).
  *
  * Documents split into fixed-token-width lines; each distinct line keeps
  * exactly its FIRST occurrence corpus-wide (lowest (id, position)), and
  * each document reports its surviving line count plus the reconstructed
  * kept text.
  *
  * Scale shape: one shuffle keyed by line text assigns first-occurrence
  * ranks (line values are near-unique after hashing; the heaviest key is a
  * boilerplate line, bounded by its corpus frequency), and one shuffle
  * keyed by document id reassembles — no join, no all-pairs. The window
  * carries only (line, id, idx) — document text never shuffles whole.
  */
object LineDedup {

  /** Fixed-width token lines over an ALREADY-MATERIALIZED token-array
    * column: ⌈n/lineTokens⌉ lines, the last one ragged. Empty array → empty
    * result. `toks` must be a bound attribute (a real column produced by a
    * prior projection), not an inline tokenization expression: higher-order
    * functions evaluate interpreted and re-evaluate captured expressions
    * once PER LAMBDA ELEMENT, so an inline `tokens(text)` here turns O(m)
    * into O(m²) per document. */
  def linesFromTokens(toks: Column, lineTokens: Int): Column = {
    val nLines = ceil(size(toks).cast("double") / lineTokens).cast("int")
    when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nLines - 1),
        i => array_join(slice(toks, i * lineTokens + 1, lit(lineTokens)), " ")))
  }

  /** Fixed-width token lines of a text column. Prefer [[linesFromTokens]]
    * over a materialized token column in per-row hot paths (see its note on
    * lambda-capture re-evaluation). */
  def lines(textCol: Column, lineTokens: Int): Column =
    linesFromTokens(TextAnalysis.tokens(textCol), lineTokens)

  /** Per-document line-dedup report: (idCol, n_lines, n_kept, kept_text)
    * where a line is kept iff this document holds its corpus-wide first
    * occurrence (ordered by (id, line index) — fully deterministic).
    * Documents with empty text produce no output row.
    *
    * Scale shape: the first-occurrence winners come from
    * `groupBy(line).agg(min(struct(id, idx)))` — a PARTIALLY-AGGREGATING
    * shuffle, so the heaviest boilerplate line sends at most one row per
    * input partition across the wire (a window by line would move and
    * sort EVERY copy onto one task, and windows are not AQE-skew-
    * splittable). No join-back either: the winner rows ARE the kept
    * lines, so the report is winners re-keyed by document joined to
    * per-document totals summed off the same within-doc frame — both
    * sides one narrow row per document on an unskewed id key. */
  def dedupLines(df: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val lineTokens = 5
    // tokenize into a real column first: the line lambda then slices a
    // bound attribute (O(lineTokens) per element) instead of re-running
    // the regex tokenization per line (the O(m²) trap)
    val exploded = df
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        posexplode(linesFromTokens(col("_toks"), lineTokens))
          .as(Seq("line_idx", "line")))
    // two chained ALL-PRIMITIVE-buffer aggregations (min over int/long,
    // min_by over (int, long)) — a single min(struct(id, idx)) would be
    // semantically identical but its struct buffer falls out of
    // HashAggregate into SortAggregate, which re-sorts the whole exploded
    // corpus on both sides of the exchange. Stage 1 collapses within-doc
    // repeats (making stage 2's min_by ordering key unique, so its
    // tie-keep-first never fires) and carries the per-(line, doc)
    // occurrence count, so the per-document totals derive from THIS frame
    // — one corpus scan serves the whole diamond. perDoc is materialized
    // because counts and winners both consume it (Spark shares no
    // subplans); it is the smallest frame that serves both.
    val perDoc = exploded
      .groupBy(col("line"), col(idCol))
      .agg(min(col("line_idx")).as("line_idx"),
        count(lit(1)).as("_cnt"))
      .localCheckpoint() // ContextCleaner-reclaimed, unlike persist: no
                         // cache residue left behind by library calls
    val counts = perDoc.groupBy(col(idCol))
      .agg(sum(col("_cnt")).as("n_lines"))
    val winners = perDoc
      .groupBy(col("line"))
      .agg(min(col(idCol)).as(idCol),
        min_by(col("line_idx"), col(idCol)).as("line_idx"))
    val kept = winners
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("line_idx"), col("line")))),
          s => s.getField("line")), " ").as("kept_text"))
    counts.join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_lines"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_text"), lit("")).as("kept_text"))
  }

  /** Boilerplate line removal (the CCNet/C4-style pass): a NEWLINE line is
    * boilerplate when it appears in ≥ `minDocs` DISTINCT documents within
    * its scope (scope = site/source — nav menus, cookie banners, copyright
    * footers recur within a site, not across the corpus; pass no scope
    * columns for corpus-global detection). Unlike [[dedupLines]] — which
    * keeps each line's FIRST occurrence — this drops EVERY occurrence of a
    * frequent line: boilerplate carries no training signal even once.
    *
    * Returns (idCol, n_lines, n_boiler, clean_text) with clean_text the
    * surviving lines rejoined by '\n' in original order. A document whose
    * every line is boilerplate survives with clean_text = "".
    *
    * Scale shape: distinct-doc counts per (scope, line) come from two
    * chained partially-aggregating shuffles (dedup within doc, then
    * count), so the heaviest boilerplate line crosses the wire once per
    * input partition, never as its full occurrence list. The flagging
    * join's build side holds only lines PAST the threshold (boilerplate
    * vocabulary — small by construction), so AQE broadcasts it at real
    * scale; reassembly is one per-document aggregation whose state is
    * bounded by the document itself. No window anywhere. */
  def stripBoilerplate(df: DataFrame, idCol: String, textCol: String,
                       scopeCols: Seq[String] = Seq.empty,
                       minDocs: Int = 10): DataFrame = {
    require(minDocs >= 2, "minDocs < 2 would flag every line as boilerplate")
    val scope = scopeCols.map(col)
    val exploded = df.select(
      (col(idCol) +: scope :+
        posexplode(split(col(textCol), "\n")).as(Seq("line_idx", "line"))): _*)
    // per-(scope, line): number of distinct docs. Stage 1 collapses
    // within-doc repeats (partial agg), stage 2 counts docs (partial agg);
    // count(DISTINCT id) in one step would carry per-task id sets for the
    // hottest lines instead of pre-collapsed rows.
    val boiler = exploded.select((scope :+ col("line") :+ col(idCol)): _*)
      .distinct()
      .groupBy((scope :+ col("line")): _*)
      .agg(count(lit(1)).as("_graft_ndocs"))
      .filter(col("_graft_ndocs") >= minDocs)
      .select((scope :+ col("line") :+ lit(true).as("_graft_boiler")): _*)
    val flagged = exploded.join(boiler, scopeCols :+ "line", "left")
    flagged.groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(when(col("_graft_boiler"), 1L).otherwise(0L)).as("n_boiler"),
        // collect_list skips null inputs: boilerplate rows contribute
        // nothing, kept rows carry (idx, line) for order-preserving
        // reassembly — per-document state only
        array_join(transform(
          array_sort(collect_list(when(col("_graft_boiler").isNull,
            struct(col("line_idx"), col("line"))))),
          s => s.getField("line")), "\n").as("clean_text"))
  }
}
