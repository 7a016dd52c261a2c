package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance (fuzzy) near-duplicate detection with deletion-neighborhood
  * blocking — the record-linkage counterpart of the token-level families in
  * [[Dedup]]: names, titles, and short identifiers that differ by one typo.
  *
  * Candidate generation is the SymSpell construction: every string emits
  * itself plus its variants of up to `maxDist` single-character deletions;
  * two strings within Levenshtein distance d ALWAYS share a depth-d variant
  * (at d=1: equal strings share themselves, a substitution pair shares the
  * string with the differing position deleted, an insert/delete pair shares
  * the shorter string; the depth-2 case composes these), so an equi-join on
  * the variant hash is a COMPLETE blocking scheme for distance ≤ maxDist —
  * pinned by specs against all-pairs at both supported depths. Candidates
  * are then verified with the exact codegen'd `levenshtein`, so hash
  * collisions and over-generation cost time, never correctness.
  *
  * Scale shape: each DISTINCT text fans out to len+1 narrow
  * (hash, rep-id, count) rows — the string itself never rides the variant
  * exchange, only its xxhash64 and its min-member-id surrogate; identical
  * texts are factored out first, so a heavily duplicated corpus (the
  * record-linkage norm) pays the blocking cost per distinct value, not per
  * row, and only the final member-id expansion is output-sized.
  * Degenerate hot variants (a constant or near-constant column) are dropped
  * by the same partial-aggregating bucket cap the LSH families use (the
  * [[Dedup.capBuckets]] shape): `groupBy(hash).count` + semi-join, never a
  * window that would funnel a hot bucket onto one task. Verification
  * re-reads the two texts via equi-joins on the rep id, over distinct-text
  * pairs only. Intended for SHORT strings (names/titles): the fan-out is
  * len+1 rows per distinct value.
  */
object FuzzyDedup {

  /** One single-character deletion at position `i` (1-based). */
  private def del1(t: Column, i: Column): Column =
    concat(t.substr(lit(1), i - lit(1)), t.substr(i + lit(1), length(t)))

  /** Two deletions at positions `i < j` of the ORIGINAL string, as one
    * three-slice concat — equivalent to deleting i then j−1 from the
    * intermediate, without materializing it. */
  private def del2(t: Column, i: Column, j: Column): Column =
    concat(t.substr(lit(1), i - lit(1)),
      t.substr(i + lit(1), j - i - lit(1)),
      t.substr(j + lit(1), length(t)))

  /** The string plus every variant of up to `maxDeletes` (1 or 2)
    * single-character deletions, hashed — the SymSpell blocking key set.
    * Public because the streaming probe persists these as its standing
    * index (compute once per accepted doc, never per wave). The depth-2
    * layer is guarded to len ≥ 2: `sequence(a, b)` with a > b counts
    * DOWN in Spark, so the unguarded form would mint phantom variants on
    * short strings. */
  def variantHashes(t: Column, maxDeletes: Int): Column =
    deletionHashes(t, maxDeletes)

  private def deletionHashes(t: Column, maxDeletes: Int): Column = {
    val depth1 = concat(
      array(xxhash64(t)),
      transform(sequence(lit(1), length(t)), i => xxhash64(del1(t, i))))
    val all =
      if (maxDeletes < 2) depth1
      else concat(depth1,
        when(length(t) >= 2,
          flatten(transform(sequence(lit(1), length(t) - 1), i =>
            transform(sequence(i + lit(1), length(t)), j =>
              xxhash64(del2(t, i, j))))))
        .otherwise(array().cast("array<bigint>")))
    array_distinct(all)
  }

  /** Levenshtein-distance-(<= maxDist) pairs: (id_a, id_b, dist) with
    * id_a < id_b, exact-verified. `maxDist` is 1 or 2: the deletion
    * neighborhood of depth d is a COMPLETE blocking scheme for edit
    * distance d (the SymSpell theorem — delete distance is bounded by
    * edit distance on both sides), spec-pinned against all-pairs at both
    * depths. Depth 2 fans each row out to O(len²/2) variants — still
    * narrow (hash, rep, count) rows, but reserve it for genuinely short
    * keys. `maxBucket` caps degenerate variant buckets (agg-based, see
    * class doc); below the cap, recall is exact — pinned by spec.
    *
    * FACTORED BY DISTINCT TEXT: every member of an identical-text group
    * shares the exact same variant set, so candidate generation, the
    * bucket cap (weighted by group size — identical to the per-row count),
    * and the levenshtein verification are all functions of the distinct
    * text alone. The variant explosion, candidate self-join, `distinct`,
    * and verification therefore run over DISTINCT texts; member-id pairs
    * are recovered at the end as pure join fan-out. On a heavily
    * duplicated corpus (the record-linkage norm — a 40-entity name
    * vocabulary over n rows) this turns the quadratic candidate stage into
    * a vocabulary-sized one: only the OUTPUT stays quadratic, as it must.
    * A within-group pair is emitted (dist 0) iff any of the group's
    * variant buckets survives the cap — the same row-count condition the
    * per-row construction applied, since a group of size m contributes m
    * rows to each of its buckets (spec-pinned: over-cap clone groups drop).
    * The `abs(len(a)−len(b)) <= maxDist` prefilter on candidate pairs is a
    * Levenshtein lower bound — zero recall loss (spec-pinned); genuine
    * deletion variants of texts further apart in length can never collide,
    * so it only guards 64-bit hash collisions, for free. */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   maxBucket: Int = 256, maxDist: Int = 1): DataFrame = {
    require(maxBucket >= 2, "nearDupPairs: maxBucket must admit a pair")
    require(maxDist == 1 || maxDist == 2,
      "nearDupPairs: maxDist must be 1 or 2")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(textCol).cast("string").as("t"))
      .filter(col("t").isNotNull)
    // one row per DISTINCT text, identified by the narrow surrogate
    // (rid, th) = (min member id, xxhash64 of the text) so the string
    // itself never rides the variant exchange. min-id alone is NOT unique
    // per text — the same id may appear with two different texts, which
    // would silently kill their cross-pair under a bare `rid < rid`
    // (spec-pinned) — and th alone would lose a pair on a 64-bit
    // collision; two texts collide on the PAIR only when they share both
    // min id and hash (~2^-64 of the already-rare duplicate-id case,
    // documented). m = member count (the cap weight).
    val groups = base.groupBy(col("t"))
      .agg(min(col("id")).as("rid"), count(lit(1)).as("m"))
      .withColumn("th", xxhash64(col("t")))
    val variants = groups.select(col("rid"), col("th"), col("m"),
      length(col("t")).as("len"),
      explode(deletionHashes(col("t"), maxDist)).as("h"))
    // partial-aggregating cap: the hot-variant decision happens on the tiny
    // (h, n) frame; a window over h would sort every member onto one task.
    // sum(m) IS the member-row count per bucket — cap semantics unchanged.
    val surviving = variants.groupBy(col("h"))
      .agg(sum(col("m")).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") >= 2)
      .select(col("h"))
    val capped = variants.join(surviving, Seq("h"), "left_semi")
    val ordered = // lexicographic (rid, th): a strict total order on texts
      col("a.rid") < col("b.rid") ||
        (col("a.rid") === col("b.rid") && col("a.th") < col("b.th"))
    val candidates = capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && ordered &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.rid").as("rid_a"), col("a.th").as("th_a"),
        col("b.rid").as("rid_b"), col("b.th").as("th_b"))
      .distinct() // a text pair can share several variants; verify once
    val reps = groups.select(col("rid"), col("th"), col("t"))
    val verified = candidates
      .join(reps.select(col("rid").as("rid_a"), col("th").as("th_a"),
        col("t").as("_ta")), Seq("rid_a", "th_a"))
      .join(reps.select(col("rid").as("rid_b"), col("th").as("th_b"),
        col("t").as("_tb")), Seq("rid_b", "th_b"))
      .withColumn("dist", levenshtein(col("_ta"), col("_tb")))
      .filter(col("dist") <= maxDist)
      .select(col("rid_a"), col("th_a"), col("rid_b"), col("th_b"),
        col("dist"))
    // within-group (dist-0) pairs: the group pairs internally iff any of
    // its variant buckets survives — the per-row construction's condition
    val selfPairs = capped.filter(col("m") >= 2)
      .select(col("rid"), col("th")).distinct()
      .select(col("rid").as("rid_a"), col("th").as("th_a"),
        col("rid").as("rid_b"), col("th").as("th_b"), lit(0).as("dist"))
    // expand distinct-text pairs to member-id pairs: pure join fan-out,
    // no distinct / levenshtein / variant explosion over the quadratic set
    val withRid = base.join(groups.select(col("t"), col("rid"), col("th")),
        Seq("t"))
      .select(col("id"), col("rid"), col("th"))
    verified.unionAll(selfPairs)
      .join(withRid.select(col("rid").as("rid_a"), col("th").as("th_a"),
        col("id").as("_ia")), Seq("rid_a", "th_a"))
      .join(withRid.select(col("rid").as("rid_b"), col("th").as("th_b"),
        col("id").as("_ib")), Seq("rid_b", "th_b"))
      .filter(col("rid_a") =!= col("rid_b") || col("th_a") =!= col("th_b") ||
        col("_ia") < col("_ib"))
      .filter(col("_ia") =!= col("_ib")) // same id under two texts: no self-pair
      .select(least(col("_ia"), col("_ib")).as("id_a"),
        greatest(col("_ia"), col("_ib")).as("id_b"),
        col("dist").cast("long").as("dist"))
  }

  /** TOKEN-level near-dup pairs: rows whose token sequences (titles,
    * sentences, paths) are within token edit distance 1 — "the same
    * sentence minus/plus/with-one-changed word", a duplicate class char
    * n-grams blur and char-level lev misprices (one word = many chars).
    * Same SymSpell construction one level up: every row emits the hash
    * of its token array plus each single-TOKEN-deletion variant's hash;
    * two sequences within token-distance 1 always share a variant, so
    * the equi-join is complete for d ≤ 1.
    *
    * Verification is exact and UDF-free: token-lev ≤ 1 iff the length
    * difference is ≤ 1 AND common-prefix + common-suffix token counts
    * cover max(len)−1 — the classic banded-alignment identity, computed
    * with `transform`/`array_position` and restated verbatim with
    * DuckDB's `list_transform`/`list_position` in the q131 oracle.
    * Output: (id_a, id_b, dist) with dist ∈ {0, 1} (0 = identical
    * sequences). `maxBucket` as in [[nearDupPairs]]. */
  def tokenNearDupPairs(df: DataFrame, idCol: String, tokensCol: String,
                        maxBucket: Int = 256): DataFrame = {
    require(maxBucket >= 2, "tokenNearDupPairs: maxBucket must admit a pair")
    val base = df.select(col(idCol).cast("long").as("id"),
      col(tokensCol).as("toks")).filter(col("toks").isNotNull)
    val variants = base.select(col("id"),
      explode(array_distinct(tokenVariantHashes(col("toks")))).as("h"))
    val surviving = variants.groupBy(col("h"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") >= 2)
      .select(col("h"))
    val capped = variants.join(surviving, Seq("h"), "left_semi")
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    pairs
      .join(base.select(col("id").as("id_a"), col("toks").as("_ta")),
        Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("toks").as("_tb")),
        Seq("id_b"))
      .filter(tokenLevWithin1(col("_ta"), col("_tb")))
      .withColumn("dist",
        when(col("_ta") === col("_tb"), lit(0L)).otherwise(lit(1L)))
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Bipartite token-level probe: batch rows within token edit distance
    * 1 of a CORPUS row — q127's incremental-crawl question at title
    * granularity, with the same never-pair-the-corpus-against-itself
    * shape and the same joint-bucket cap. Output:
    * `(corpus_id, batch_id, dist)`, dist ∈ {0, 1}. */
  def crossTokenNearDupPairs(corpus: DataFrame, batch: DataFrame,
                             idCol: String, tokensCol: String,
                             maxBucket: Int = 256): DataFrame = {
    require(maxBucket >= 2,
      "crossTokenNearDupPairs: maxBucket must admit a pair")
    def narrow(df: DataFrame) =
      df.select(col(idCol).cast("long").as("id"),
        col(tokensCol).as("toks")).filter(col("toks").isNotNull)
    val (cBase, bBase) = (narrow(corpus), narrow(batch))
    def variants(base: DataFrame) = base.select(col("id"),
      explode(array_distinct(tokenVariantHashes(col("toks")))).as("h"))
    val (cv, bv) = (variants(cBase), variants(bBase))
    val surviving = cv.select(col("h")).unionAll(bv.select(col("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") >= 2)
      .select(col("h"))
    val pairs = cv.join(surviving, Seq("h"), "left_semi")
      .select(col("id").as("corpus_id"), col("h"))
      .join(bv.join(surviving, Seq("h"), "left_semi")
        .select(col("id").as("batch_id"), col("h")), Seq("h"))
      .select(col("corpus_id"), col("batch_id")).distinct()
    pairs
      .join(cBase.select(col("id").as("corpus_id"), col("toks").as("_tc")),
        Seq("corpus_id"))
      .join(bBase.select(col("id").as("batch_id"), col("toks").as("_tb")),
        Seq("batch_id"))
      .filter(tokenLevWithin1(col("_tc"), col("_tb")))
      .withColumn("dist",
        when(col("_tc") === col("_tb"), lit(0L)).otherwise(lit(1L)))
      .select(col("corpus_id"), col("batch_id"), col("dist"))
  }

  /** The token array's hash plus each single-token-deletion variant's
    * hash (guarded to non-empty — `sequence` counts DOWN past zero). */
  private def tokenVariantHashes(toks: Column): Column = {
    def removeAt(a: Column, i: Column): Column =
      concat(slice(a, lit(1), i - lit(1)),
        slice(a, i + lit(1), size(a) - i))
    concat(
      array(xxhash64(toks)),
      when(size(toks) >= 1,
        transform(sequence(lit(1), size(toks)),
          i => xxhash64(removeAt(toks, i))))
      .otherwise(array().cast("array<bigint>")))
  }

  /** Exact token-lev ≤ 1 via the prefix+suffix cover identity: length
    * difference ≤ 1 AND common-prefix + common-suffix token counts cover
    * max(len)−1. UDF-free; restated with DuckDB list functions in the
    * q131/q132 oracles. */
  private def tokenLevWithin1(a: Column, b: Column): Column = {
    def prefixLen(x: Column, y: Column): Column = {
      val m = least(size(x), size(y))
      val z = transform(sequence(lit(1), m),
        i => element_at(x, i) <=> element_at(y, i))
      val pos = array_position(z, false)
      when(m <= 0, lit(0)).otherwise(
        when(pos === 0, m).otherwise(pos - lit(1)))
    }
    abs(size(a) - size(b)) <= 1 &&
      (prefixLen(a, b) + prefixLen(reverse(a), reverse(b))) >=
        greatest(size(a), size(b)) - lit(1)
  }

  /** Bipartite (cross-corpus) fuzzy pairs: batch rows within Levenshtein
    * `maxDist` of a CORPUS row — "does today's crawl contain a typo'd
    * copy of anything we already hold", without ever generating
    * corpus×corpus (or batch×batch) candidates. Same deletion-variant
    * construction on each side, joined corpus-variant ⋈ batch-variant;
    * with |batch| ≪ |corpus| the exchange is one narrow (hash, id) frame
    * per side and the corpus side's variants stream through the join —
    * nothing corpus-sized is ever paired against itself. Output:
    * `(corpus_id, batch_id, dist)`, exact-verified. `maxBucket` caps the
    * JOINT variant bucket (corpus + batch members together), same
    * agg + semi-join shape as [[nearDupPairs]]. */
  def crossNearDupPairs(corpus: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        maxBucket: Int = 256, maxDist: Int = 1): DataFrame = {
    require(maxBucket >= 2, "crossNearDupPairs: maxBucket must admit a pair")
    require(maxDist == 1 || maxDist == 2,
      "crossNearDupPairs: maxDist must be 1 or 2")
    def narrow(df: DataFrame) =
      df.select(col(idCol).cast("long").as("id"),
          col(textCol).cast("string").as("t"))
        .filter(col("t").isNotNull)
    val (cBase, bBase) = (narrow(corpus), narrow(batch))
    def variants(base: DataFrame) = base
      .select(col("id"), length(col("t")).as("len"),
        explode(deletionHashes(col("t"), maxDist)).as("h"))
    val (cv, bv) = (variants(cBase), variants(bBase))
    // the cap counts BOTH sides of a variant bucket: a degenerate value
    // shared corpus-wide must not explode just because the batch also
    // contains it once
    val surviving = cv.select(col("h")).unionAll(bv.select(col("h")))
      .groupBy(col("h")).agg(count(lit(1)).as("_n"))
      .filter(col("_n") <= maxBucket && col("_n") >= 2)
      .select(col("h"))
    // abs(len diff) <= maxDist is a Levenshtein lower bound — prunes
    // candidates (hash collisions across lengths) with zero recall loss
    val pairs = cv.join(surviving, Seq("h"), "left_semi").as("a")
      .join(bv.join(surviving, Seq("h"), "left_semi").as("b"),
        col("a.h") === col("b.h") &&
          abs(col("a.len") - col("b.len")) <= maxDist)
      .select(col("a.id").as("corpus_id"), col("b.id").as("batch_id"))
      .distinct()
    pairs
      .join(cBase.select(col("id").as("corpus_id"), col("t").as("_tc")),
        Seq("corpus_id"))
      .join(bBase.select(col("id").as("batch_id"), col("t").as("_tb")),
        Seq("batch_id"))
      .withColumn("dist", levenshtein(col("_tc"), col("_tb")))
      .filter(col("dist") <= maxDist)
      .select(col("corpus_id"), col("batch_id"),
        col("dist").cast("long").as("dist"))
  }

  /** Keep-min-id dedup: every id appearing as the larger member of a
    * verified pair is dropped; survivors keep their full row. */
  def dedup(df: DataFrame, idCol: String, textCol: String,
            maxBucket: Int = 256, maxDist: Int = 1): DataFrame = {
    val dupIds = nearDupPairs(df, idCol, textCol, maxBucket, maxDist)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Dedup PROVENANCE: one row per DROPPED id explaining the drop —
    * `(id, keeper_id, reason, dist)` where `reason` is `exact` (an
    * identical text with a smaller id exists; keeper = the smallest such
    * id, dist 0) or `fuzzy` (only within-distance neighbors exist; keeper
    * = the CLOSEST smaller-id neighbor, ties to the smallest id, dist =
    * its edit distance). The
    * dropped id set is EXACTLY the complement of [[dedup]]'s survivor set
    * (same keep-min-id convention — a keeper may itself be dropped via a
    * chain; spec-pinned), so a curation pipeline can ship the audit trail
    * "who killed this document and why" next to the cleaned corpus — the
    * record regulators and data cards ask for at 100 TB, where a drop
    * without provenance is unreviewable.
    *
    * Scale shape: [[nearDupPairs]]' blocked candidate generation plus one
    * partial-agg groupBy over the pair list. No windows, no driver data. */
  def provenance(df: DataFrame, idCol: String, textCol: String,
                 maxDist: Int = 1): DataFrame =
    nearDupPairs(df, idCol, textCol, 256, maxDist)
      .groupBy(col("id_b").as(idCol))
      .agg(
        min(when(col("dist") === 0, col("id_a"))).as("_exact_keeper"),
        min_by(struct(col("dist"), col("id_a")),
          struct(col("dist"), col("id_a"))).as("_best"))
      .select(col(idCol),
        coalesce(col("_exact_keeper"), col("_best.id_a")).as("keeper_id"),
        when(col("_exact_keeper").isNotNull, lit("exact"))
          .otherwise(lit("fuzzy")).as("reason"),
        when(col("_exact_keeper").isNotNull, lit(0L))
          .otherwise(col("_best.dist")).as("dist"))
}
