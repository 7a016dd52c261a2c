package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Context-window chunking for pretraining sequence prep: split each
  * document's token stream into fixed-budget windows with a configurable
  * stride (stride == maxTokens → disjoint blocks; stride < maxTokens →
  * sliding overlap, the long-document strategy for models whose context is
  * shorter than the document). The counterpart AFTER chunking is
  * [[Sharding.packShards]], which packs the chunks into training shards.
  *
  * Scale shape: pure per-row work — tokenize once into a bound column, one
  * transform over chunk starts, one posexplode; no shuffle at all. The
  * output multiplies rows ~m/stride× but each row is one chunk wide, and
  * chunks distribute freely across partitions.
  */
object Chunking {

  /** (chunk_text, n_tokens) structs over an ALREADY-MATERIALIZED token
    * array column — the slicing lambda CAPTURES `toks`, and an inline
    * tokenization would re-run per chunk (the O(m²) trap; see
    * [[LineDedup.linesFromTokens]]). Documents with ≤ maxTokens tokens
    * yield one chunk; empty documents none. Every chunk has ≥ 1 token:
    * the last window starts at most (m − 1). */
  def chunkStructs(toks: Column, maxTokens: Int, stride: Int): Column = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(stride > 0 && stride <= maxTokens,
      s"stride must be in [1, maxTokens], got $stride (maxTokens $maxTokens)")
    val m = size(toks)
    val nChunks = when(m <= maxTokens, lit(1))
      .otherwise(ceil((m - maxTokens).cast("double") / stride).cast("int") + 1)
    when(m === 0, array().cast("array<struct<chunk_text:string,n_tokens:int>>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1), i => struct(
        array_join(slice(toks, i * stride + 1, lit(maxTokens)), " ")
          .as("chunk_text"),
        least(lit(maxTokens), m - i * stride).as("n_tokens"))))
  }

  /** One row per (document, chunk): (idCol, chunk_idx, chunk_text,
    * n_tokens), chunk_idx 0-based in document order. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
                     maxTokens: Int, stride: Int): DataFrame =
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col(idCol),
        posexplode(chunkStructs(col("_toks"), maxTokens, stride))
          .as(Seq("chunk_idx", "_c")))
      .select(col(idCol), col("chunk_idx"),
        col("_c")("chunk_text").as("chunk_text"),
        col("_c")("n_tokens").cast("long").as("n_tokens"))

  // --- Content-defined chunking (CDC) ---------------------------------
  // Blob-level dedup's unit of work: split at positions where the hash
  // of the trailing w-gram lands on a residue class, so boundaries are
  // ANCHORED TO CONTENT, not offsets — a prefix edit shifts fixed-size
  // blocks (every block hash changes) while CDC boundaries downstream
  // re-align and the unchanged tail keeps its hashes; that is why
  // near-identical blob revisions dedup at chunk granularity when
  // whole-doc hashing sees two distinct documents. Expected chunk
  // length ~= modulus chars. The boundary predicate is the
  // oracle-restatable Sketches.hash60 of the w-gram; a true rolling
  // hash (Rabin-Karp, O(1)/position) could sit behind the same residue
  // rule. No min/max clamps:
  // the plain residue rule keeps every position's verdict independent,
  // making chunking ONE ARRAY EXPRESSION per row (codegen projection,
  // no shuffle until the caller aggregates).

  /** `(idCol, chunk_idx, start_pos, chunk_len, chunk_hash)` — 1-based
    * `start_pos`, `chunk_idx` 0-based in document order. Documents
    * shorter than `w` are one whole-doc chunk; empty texts emit no
    * rows. */
  def contentDefinedChunks(df: DataFrame, idCol: String, textCol: String,
                           w: Int, modulus: Int): DataFrame = {
    require(w >= 1, "contentDefinedChunks: w must be positive")
    require(modulus >= 2, "contentDefinedChunks: modulus must be >= 2")
    val t = col("_t")
    // sequence(a, b) counts DOWN when a > b (the house gotcha): guard
    // short docs to an empty boundary set
    val positions = when(length(t) >= w,
      sequence(lit(w), length(t))).otherwise(array().cast("array<int>"))
    val boundaries = filter(
      transform(positions, p =>
        when(pmod(Sketches.hash60(t.substr(p - lit(w) + lit(1), lit(w))),
          lit(modulus.toLong)) === 0, p)),
      b => b.isNotNull)
    val bounds = array_distinct(concat(
      array(lit(0)), boundaries, array(length(t))))
    val spans = filter(
      transform(sequence(lit(1), size(col("_bounds")) - 1),
        i => struct(
          element_at(col("_bounds"), i).as("s"),
          element_at(col("_bounds"), i + 1).as("e"))),
      c => c.getField("e") > c.getField("s"))
    df.select(col(idCol), col(textCol).cast("string").as("_t"))
      .filter(t.isNotNull && length(t) > 0)
      .withColumn("_bounds", bounds)
      .select(col(idCol), t,
        posexplode(spans).as(Seq("chunk_idx", "_span")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        (col("_span.s") + 1).cast("long").as("start_pos"),
        (col("_span.e") - col("_span.s")).cast("long").as("chunk_len"),
        Sketches.hash60(t.substr(col("_span.s") + lit(1),
          col("_span.e") - col("_span.s"))).as("chunk_hash"))
  }

  /** Chunk-level dedup telemetry per group: `(groupCol, n_chunks,
    * n_distinct, dup_ppm)` — the savings estimate a blob-dedup pass
    * reports before anyone builds the content store. */
  def chunkDedupReport(chunks: DataFrame, groupCol: String): DataFrame =
    chunks.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_chunks"),
        count_distinct(col("chunk_hash")).as("n_distinct"))
      .select(col(groupCol), col("n_chunks"), col("n_distinct"),
        expr("(n_chunks - n_distinct) * 1000000 div n_chunks")
          .as("dup_ppm"))
}
