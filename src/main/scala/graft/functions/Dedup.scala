package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, designed for the
  * 100 TB path:
  *
  *   - exact dedup shuffles on (hash, text) — the 64-bit hash dominates the
  *     partitioner so giant text keys never skew one partition;
  *   - MinHash+LSH finds near-dup *candidates* with a band-bucket self-join
  *     (shuffle on short band signatures), never an O(n²) cross join; exact
  *     Jaccard verification runs only on candidate pairs;
  *   - SimHash candidates match on 16-bit chunks (pigeonhole: hamming ≤ 3
  *     over 4 chunks guarantees one equal chunk).
  *
  * All hashing is xxhash64-based (Spark-native, seed-stable), with modular
  * arithmetic kept below 2^62 so ANSI overflow checking never trips.
  */
object Dedup {

  /** Keep one row per exact text value (the minimum id wins — the
    * reference-style deterministic keeper).
    *
    * Formulated as a `min_by` aggregation rather than a window: a window
    * must shuffle EVERY row then sort, while the aggregate combines
    * map-side — on a clone-heavy corpus most duplicate rows never leave
    * their input partition. Grouping by (xxhash64, text) keeps the 64-bit
    * hash in front of the partitioner so giant text keys can't skew one
    * reducer. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // the text rides in the grouping key; carrying it in the struct too
    // would double the shuffled bytes per row
    val others = df.columns.filterNot(_ == textCol)
    // ordering key (isnull, id): min_by would SKIP rows whose bare id is
    // null, turning an all-null-id group into an all-null output row — the
    // struct is never null, so a real row survives; non-null ids still win
    // and order exactly as before
    df.groupBy(xxhash64(col(textCol)), col(textCol))
      .agg(min_by(struct(others.map(col): _*),
        struct(col(idCol).isNull, col(idCol))).as("_graft_row"))
      .select(df.columns.map(c =>
        if (c == textCol) col(textCol) else col(s"_graft_row.$c")): _*)
  }

  /** Incremental corpus dedup: drop every `batch` row whose fingerprint
    * already exists in `corpus`, and dedup the batch against itself (min id
    * keeps). The daily-crawl shape: the corpus is 1000× the batch, so the
    * batch must NEVER force a corpus-wide shuffle.
    *
    *   1. the corpus's fingerprint column compresses to a bloom filter — a
    *      scan-only aggregation (no shuffle beyond one blob per partition);
    *   2. the bloom prefilters the corpus to ~fpp false positives plus true
    *      matches of the BATCH side... inverted: each batch row checks the
    *      corpus bloom locally; only might-be-dup batch rows (tiny) reach
    *      the exact anti-join, and the anti-join's corpus side prunes to
    *      rows whose fingerprint might be in the BATCH's bloom — both scans
    *      stay shuffle-free until the joined remnant is batch-sized;
    *   3. an exact left-anti join on the fingerprint removes true dups —
    *      bloom false positives survive to the join and are cleared there,
    *      so the result is exactly the naive anti-join.
    *
    * Fingerprints should be content hashes ([[graft.functions.TextAnalysis
    * .fingerprint]] / `md5`); collisions there are content-dedup semantics,
    * not an artifact of this operator. */
  def incrementalDedup(batch: DataFrame, corpus: DataFrame, fpCol: String,
                       idCol: String): DataFrame = {
    // the corpus bloom filter is sized for 100k fingerprints
    val corpusItems = 100000L
    // null fingerprints mean "couldn't fingerprint", not "identical" —
    // they bypass both the batch collapse and the corpus check
    val nullFp = batch.filter(col(fpCol).isNull)
    // materialized: the deduped batch feeds THREE consumers (the
    // candidates' bloom build, the definitely-new branch, the anti-join) —
    // unmaterialized, the batch would re-scan and re-shuffle once per
    // branch. localCheckpoint (not persist): its blocks are reclaimed by
    // the ContextCleaner once unreferenced, so per-batch calls in a
    // long-lived session don't accumulate cache entries
    val inBatch = exactDedup(batch.filter(col(fpCol).isNotNull), fpCol, idCol)
      .localCheckpoint()
    // corpus bloom → batch rows that MIGHT be known (candidates), the rest
    // are definitively new and skip the join entirely
    val corpusBloom = graft.operators.BloomPrune.buildFilter(
      corpus.filter(col(fpCol).isNotNull), fpCol, corpusItems)
    val mightKnow = graft.operators.BloomPrune.mightContain(corpusBloom, col(fpCol))
    val definitelyNew = inBatch.filter(!mightKnow)
    val candidates = inBatch.filter(mightKnow)
    // the exact check: candidates (batch-sized at most) anti-join the
    // corpus, whose scan is bloom-pruned by the CANDIDATES' fingerprints —
    // at a 1000:1 corpus:batch ratio almost no corpus row survives to the
    // join build
    val confirmed = graft.operators.BloomPrune
      .prune(corpus.select(col(fpCol)), fpCol, candidates, fpCol,
        expectedItems = math.max(corpusItems / 1000, 1000))
      .withColumnRenamed(fpCol, "_graft_known_fp")
    val stillNew = candidates.join(confirmed,
      col(fpCol) === col("_graft_known_fp"), "left_anti")
    nullFp.unionByName(definitelyNew).unionByName(stillNew)
  }

  /** Character k-shingles of a string (k consecutive chars, step 1). */
  def charShingles(c: Column, k: Int): Column =
    transform(sequence(lit(1), greatest(length(c) - lit(k - 1), lit(1))),
      i => substring(c, i, lit(k)))

  /** Word n-grams over a token array; documents shorter than n become a
    * single shingle of all their tokens. */
  def wordShingles(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - lit(n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array(array_join(toks, " ")))

  /** Prime modulus 2^31−1: products a·x stay ≤ 2^62 (no ANSI overflow). */
  private val P = 2147483647L

  /** Deterministic universal-hash seeds (a, b) from the fixed PRNG seed
    * 42 (`MinHashSigExpr` draws the same sequence). */
  def seeds(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(42L)
    Seq.fill(numHashes)((1L + rnd.nextLong(P - 1), rnd.nextLong(P)))
  }

  /** Sorted distinct shingle hashes (xxhash64 mod P): computed ONCE per
    * shingle, then reused by every minhash function and by set-similarity
    * verification. Hashing to longs shrinks both compute and shuffle width
    * (the raw shingle strings never leave the scan stage); sorting makes
    * the pairwise Jaccard a native merge walk (JaccardSortedExpr). */
  def hashedShingles(shingles: Column): Column =
    array_sort(array_distinct(transform(shingles, s => pmod(xxhash64(s), lit(P)))))

  /** Jaccard over sorted distinct hash arrays — native merge-walk
    * expression; values identical to [[jaccard]] on the same sets. */
  def jaccardSorted(a: Column, b: Column): Column =
    graft.expressions.JaccardSortedExpr.jaccardSorted(a, b)

  /** Fused char-shingle hashing: string → sorted distinct hashes in one
    * native pass (no intermediate shingle-string array); identical output
    * to `hashedShingles(charShingles(text, k))`. */
  def hashedCharShingles(text: Column, k: Int): Column =
    graft.expressions.HashedShinglesExpr.hashedShingles(text, k)

  /** Fused word-n-gram hashing: token array → sorted distinct hashes in one
    * native pass; identical output to `hashedShingles(wordShingles(toks, n))`
    * on null-free token arrays (pinned by WordShingleHashExprSpec). */
  def hashedWordShingles(toks: Column, n: Int): Column =
    graft.expressions.WordShingleHashExpr.wordShingleHashes(toks, n)

  /** MinHash signature over pre-hashed shingles — native single-pass
    * expression (see `graft.expressions.MinHashSigExpr`). */
  def minhashSignatureFromHashes(hashed: Column, numHashes: Int = 64): Column =
    graft.expressions.MinHashSigExpr.minhashSig(hashed, numHashes)

  /** Built-in HOF formulation of the signature: identical output to
    * [[minhashSignatureFromHashes]] (pinned by MinHashSigExprSpec) but one
    * boxed lambda dispatch per (hash, shingle) pair — kept as the
    * executable spec. */
  def minhashSignatureFromHashesHof(hashed: Column, numHashes: Int = 64): Column = {
    val params = typedLit(seeds(numHashes))
    transform(params, p =>
      array_min(transform(hashed, x =>
        pmod(p.getField("_1") * x + p.getField("_2"), lit(P)))))
  }

  /** LSH banding: explode a signature into (band_idx, band_sig) rows.
    * Docs sharing any full band agree on r consecutive minhashes —
    * the classic (b, r) S-curve candidate filter. */
  def lshBands(df: DataFrame, idCol: String, sigCol: String,
               bands: Int, rowsPerBand: Int,
               carry: Seq[String] = Nil): DataFrame =
    df.select(col(idCol) +: carry.map(col) :+
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => slice(col(sigCol), b * rowsPerBand + 1, lit(rowsPerBand)))): _*)
      .toDF((idCol +: carry) ++ Seq("band_idx", "band_sig"): _*)

  /** Candidate near-dup pairs via the band-bucket self-join (id_a < id_b).
    *
    * Buckets larger than `maxBucket` are dropped before the join: a hot
    * bucket contributes m² pairs, so without a cap one degenerate band
    * (e.g. a saturated shingle space) turns the join quadratic. Dropped
    * buckets are low-information — their members collide on other, more
    * selective bands when genuinely near-identical. This is the standard
    * production guard for LSH dedup at scale.
    */
  /** Band rows whose (band_idx, band_sig) bucket holds ≤ `maxBucket`
    * members — the degenerate-band guard shared by [[lshCandidates]] and
    * [[crossCorpusNearDups]].
    *
    * Bucket sizing is a partial-aggregating groupBy + semi-join, NOT a
    * window: `count() OVER (PARTITION BY band_idx, band_sig)` would move
    * and sort EVERY member of a hot bucket onto ONE task before the cap
    * could drop it — a degenerate band (saturated shingle space,
    * empty-text signatures) funnels its whole population into a single
    * reducer at 100 TB. The aggregate combines map-side (one row per
    * input partition per hot key reaches the reducer), the cap decision
    * happens on the tiny (band, sig, n) frame, and the semi-join hashes
    * on the same keys the candidate join shuffles on anyway. Same hazard
    * class LineDedup.dedupLines documents and avoids. PlanShapeSpec pins
    * this plan window-free. */
  def capBuckets(bandsDf: DataFrame, idCol: String, maxBucket: Int,
                 carry: Seq[String] = Nil): DataFrame = {
    val surviving = bandsDf
      .groupBy(col("band_idx"), col("band_sig"))
      .agg(count(lit(1)).as("_bucket_n"))
      .filter(col("_bucket_n") <= maxBucket)
      .select(col("band_idx"), col("band_sig"))
    // the using-columns join moves (band_idx, band_sig) to the front —
    // restore the (id, band_idx, band_sig) order positional renames need
    bandsDf.join(surviving, Seq("band_idx", "band_sig"), "left_semi")
      .select(col(idCol) +: col("band_idx") +: col("band_sig") +:
        carry.map(col): _*)
  }

  /** Geometric size-band boundaries for Jaccard threshold `t`:
    * `b₀ = 1, b_{k+1} = ceil(b_k · 10000 / ⌊t·10000⌋)` — a pure INTEGER
    * recurrence (no float log whose 1-ulp jitter could flip a floor at
    * a band edge), growing by ≥ 1/t̂ per step with t̂ = ⌊t·10⁴⌋/10⁴ ≤ t.
    * Guarantee: any pair with size ratio ≥ t (a J ≥ t prerequisite —
    * |A∩B|/|A∪B| ≥ t forces min/max ≥ t) has at most ONE boundary
    * between its sizes, so its band ids differ by ≤ 1: probing a size
    * band ± 1 is EXACT (no false negatives), and every pair the ratio
    * would kill anyway never leaves the join. This is the LSH length
    * filter moved INTO the bucket key — on saturated shingle spaces
    * (tiny vocabularies, boilerplate corpora) random band collisions
    * between very-different-length docs grow superlinearly, and this
    * kills them before the join emits them. */
  def sizeBandBounds(threshold: Double): Seq[Long] = {
    val maxN = Int.MaxValue.toLong
    require(threshold > 0.0 && threshold < 1.0,
      s"sizeBandBounds: threshold must be in (0,1), got $threshold")
    val num = math.floor(threshold * 10000).toLong
    require(num >= 1, s"sizeBandBounds: threshold $threshold too small")
    val buf = scala.collection.mutable.ArrayBuffer(1L)
    while (buf.last <= maxN)
      buf += math.max(buf.last + 1, (buf.last * 10000L + num - 1) / num)
    buf.toSeq
  }

  /** 1-based size-band id of `n` under [[sizeBandBounds]]: the count of
    * boundaries ≤ n (n = 0 → band 0). O(|bounds|) per row over a
    * literal array — trivial next to shingling. */
  def sizeBand(n: Column, bounds: Seq[Long]): Column =
    size(filter(typedLit(bounds), b => b <= n))

  def lshCandidates(bandsDf: DataFrame, idCol: String,
                    maxBucket: Int = 64): DataFrame = {
    val sized = capBuckets(bandsDf, idCol, maxBucket)
    val a = sized.toDF(s"${idCol}_a", "band_idx", "band_sig")
    val b = sized.toDF(s"${idCol}_b", "band_idx", "band_sig")
    a.join(b, Seq("band_idx", "band_sig"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .distinct()
  }

  /** Exact Jaccard similarity between two distinct-element arrays
    * (zero-guarded). |A∪B| is derived as |A|+|B|−|A∩B| so only the
    * intersection is materialized. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") /
      greatest(size(a) + size(b) - inter, lit(1)).cast("double")
  }

  /** End-to-end MinHash-LSH near-dup detection: shingle → sign → band →
    * candidate join → exact-Jaccard verify, over 32 hashes in 8 bands.
    * Returns (id_a, id_b, jaccard) for pairs with similarity ≥
    * threshold. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      shingleSize: Int = 5, threshold: Double = 0.8,
                      maxBucket: Int = 64): DataFrame = {
    val (numHashes, bands) = (32, 8)
    val rowsPerBand = numHashes / bands
    // ONE cached frame carries both expensive computes — the hashed
    // shingles AND the minhash signature: it feeds four plan branches
    // (the bucket-size agg + semi-join sides of the cap, and both verify
    // sides), each of which re-derives only cheap projections (a band
    // slice/explode, a column select) from the cache. Columnar persist,
    // not localCheckpoint, because the rows are WIDE (a ~kiloword hash
    // array per document): InMemoryRelation stores them compressed
    // columnar, while an RDD checkpoint would copy raw 8 KB+ rows —
    // measured 1.7× slower end-to-end. The function materializes its
    // (small) result below and unpersists before returning, so no cache
    // residue outlives the call.
    val signed = df.select(col(idCol),
        hashedCharShingles(lower(col(textCol)), shingleSize).as("hs"))
      .withColumn("sig", minhashSignatureFromHashes(col("hs"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = lshCandidates(
      lshBands(signed, idCol, "sig", bands, rowsPerBand), idCol, maxBucket)
    // verify on hashed shingle sets: same Jaccard value modulo (negligible)
    // 64-bit collisions, at a fraction of the compare/shuffle cost
    val sa = signed.select(col(idCol).as(s"${idCol}_a"), col("hs").as("hs_a"))
    val sb = signed.select(col(idCol).as(s"${idCol}_b"), col("hs").as("hs_b"))
    val result = cands.join(sa, s"${idCol}_a").join(sb, s"${idCol}_b")
      // necessary condition jaccard ≥ t ⇒ |A|/|B| ≥ t: prune before the
      // expensive set intersection
      .filter(size(col("hs_a")).cast("double") >= lit(threshold) * size(col("hs_b")) &&
              size(col("hs_b")).cast("double") >= lit(threshold) * size(col("hs_a")))
      .withColumn("jaccard", jaccardSorted(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
      // materialize the pair list (tiny next to the corpus), then drop
      // the heavyweight shingle cache, here in the library so every
      // caller inherits the cleanup
      .localCheckpoint()
    signed.unpersist(blocking = true)
    result
  }

  /** Cross-corpus MinHash-LSH near-dup join: candidate pairs BETWEEN two
    * corpora, never within either side — "probe the new crawl against the
    * standing corpus" (or an eval benchmark against training data at
    * fuzzy, not exact-n-gram, granularity; cf. [[Contamination]]).
    *
    * Why not union + [[minhashNearDups]]: the self-join generates
    * within-corpus pairs too, so a heavily self-duplicated crawl pays a
    * quadratic candidate bill for pairs the probe question never asked
    * about. Here each side bands independently and the band join is
    * BIPARTITE — candidates are left×right per bucket only, each side
    * capped at `maxBucket` like [[lshCandidates]]. Output:
    * (idCol_a ∈ left, idCol_b ∈ right, jaccard ≥ threshold). */
  def crossCorpusNearDups(left: DataFrame, right: DataFrame, idCol: String,
                          textCol: String, shingleSize: Int = 5,
                          numHashes: Int = 64, bands: Int = 16,
                          threshold: Double = 0.8): DataFrame = {
    val rowsPerBand = numHashes / bands
    // one columnar-persisted frame per side holding shingle hashes AND
    // signature (see minhashNearDups for why persist beats an RDD
    // checkpoint on these wide rows): the cap's two band readings and
    // the verify side all re-derive cheap projections from the cache;
    // both caches are dropped below once the result is materialized
    def shingled(df: DataFrame) = df.select(col(idCol),
        hashedCharShingles(lower(col(textCol)), shingleSize).as("hs"))
      .withColumn("sig", minhashSignatureFromHashes(col("hs"), numHashes))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def banded(s: DataFrame) = lshBands(s, idCol, "sig", bands, rowsPerBand)
    // the shared agg + semi-join cap — never a window (see capBuckets)
    def capped(b: DataFrame) = capBuckets(b, idCol, 64)
    val sl = shingled(left)
    val sr = shingled(right)
    val cands = capped(banded(sl)).toDF(s"${idCol}_a", "band_idx", "band_sig")
      .join(capped(banded(sr)).toDF(s"${idCol}_b", "band_idx", "band_sig"),
        Seq("band_idx", "band_sig"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b")).distinct()
    val sa = sl.select(col(idCol).as(s"${idCol}_a"), col("hs").as("hs_a"))
    val sb = sr.select(col(idCol).as(s"${idCol}_b"), col("hs").as("hs_b"))
    val result = cands.join(sa, s"${idCol}_a").join(sb, s"${idCol}_b")
      .filter(
        size(col("hs_a")).cast("double") >= lit(threshold) * size(col("hs_b")) &&
        size(col("hs_b")).cast("double") >= lit(threshold) * size(col("hs_a")))
      .withColumn("jaccard", jaccardSorted(col("hs_a"), col("hs_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
      .localCheckpoint() // materialize the small pair list first...
    sl.unpersist(blocking = true) // ...then release both shingle caches
    sr.unpersist(blocking = true)
    result
  }

  /** 60-bit SimHash over a token array, with an md5-derived token hash —
    * native single-pass Catalyst expression (see
    * `graft.expressions.SimHashPortableExpr`). A DuckDB oracle restates it
    * bit for bit, so simhash pipelines built on it get full hash-match
    * correctness rows (q28/q38). */
  def simhash60Portable(toks: Column): Column =
    graft.expressions.SimHashPortableExpr.simhash60Portable(toks)

  /** Built-in-expression formulation of [[simhash60Portable]]: identical
    * output (pinned by SimHashPortableExprSpec), kept as the executable
    * spec. The portable token hash is stated with public SQL functions
    * only — conv(substring(md5(t),1,15),16,10). */
  def simhash60PortableHof(toks: Column): Column = {
    val clean = filter(toks, t => t.isNotNull)
    val hashes = transform(clean, t =>
      conv(substring(md5(t.cast("binary")), 1, 15), 16, 10).cast("long"))
    val bits = transform(sequence(lit(0), lit(59)), b => {
      val vote = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when((call_function("shiftright", h, b)
          .bitwiseAND(lit(1L))) === 1L, 1L).otherwise(-1L))
      when(vote > 0, call_function("shiftleft", lit(1L), b)).otherwise(lit(0L))
    })
    aggregate(bits, lit(0L), (acc, x) => acc.bitwiseOR(x))
  }

  /** SimHash near-dup pairs: candidates share one of `numChunks` contiguous
    * `chunkBits`-bit chunks (pigeonhole: hamming ≤ numChunks−1 guarantees
    * one equal chunk), verified with bit_count(xor) ≤ maxDist. Defaults
    * cover a 64-bit simhash; pass (4, 15) for the portable 60-bit variant. */
  def simhashNearDups(df: DataFrame, idCol: String, simCol: String,
                      maxDist: Int = 3, numChunks: Int = 4,
                      chunkBits: Int = 16, simBits: Int = 64): DataFrame = {
    require(maxDist < numChunks,
      s"pigeonhole needs maxDist < numChunks, got $maxDist >= $numChunks")
    require(numChunks * chunkBits >= simBits,
      s"chunk grid covers only ${numChunks * chunkBits} of $simBits simhash " +
        "bits - uncovered bits would silently lose qualifying pairs")
    // the chunk frame self-joins: materialize so an expensive upstream
    // simhash computation is not replayed for both join sides.
    // localCheckpoint (ContextCleaner-reclaimed), not persist — no cache
    // residue after the caller drops the result
    val chunks = df.select(col(idCol), col(simCol),
      posexplode(transform(sequence(lit(0), lit(numChunks - 1)), i =>
        call_function("shiftright", col(simCol), i * lit(chunkBits))
          .bitwiseAND(lit((1L << chunkBits) - 1)))))
      .toDF(idCol, simCol, "chunk_idx", "chunk")
      .localCheckpoint()
    val a = chunks.toDF(s"${idCol}_a", "sim_a", "chunk_idx", "chunk")
    val b = chunks.toDF(s"${idCol}_b", "sim_b", "chunk_idx", "chunk")
    a.join(b, Seq("chunk_idx", "chunk"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** BIPARTITE SimHash pairing — `(idCol_new, idCol_old, hamming)` for
    * every cross pair within `maxDist`: the [[simhashNearDups]] chunk
    * pigeonhole with a probe side and an index side instead of a
    * self-join (the [[crossCorpusNearDups]] semantics for hash
    * fingerprints — within-side pairs are never generated, so a batch
    * probing a standing index never re-pairs the index with itself).
    * Both sides chunk-explode into 8 chunks of 8 bits, covering all 64
    * simhash bits; candidates meet on an equal chunk (exact for
    * maxDist < 8). */
  def simhashCrossPairs(newDf: DataFrame, oldDf: DataFrame, idCol: String,
                        simCol: String, maxDist: Int = 3): DataFrame = {
    val (numChunks, chunkBits) = (8, 8)
    require(maxDist < numChunks,
      s"pigeonhole needs maxDist < numChunks, got $maxDist >= $numChunks")
    def chunks(df: DataFrame, side: String) =
      df.select(col(idCol), col(simCol),
        posexplode(transform(sequence(lit(0), lit(numChunks - 1)), i =>
          call_function("shiftright", col(simCol), i * lit(chunkBits))
            .bitwiseAND(lit((1L << chunkBits) - 1)))))
        .toDF(s"${idCol}_$side", s"sim_$side", "chunk_idx", "chunk")
    chunks(newDf, "new").join(chunks(oldDf, "old"), Seq("chunk_idx", "chunk"))
      .select(col(s"${idCol}_new"), col(s"${idCol}_old"),
        bit_count(col("sim_new").bitwiseXOR(col("sim_old"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** EXACT prefix-filter candidate pairs (the AllPairs/PPJoin principle):
    * J(A,B) ≥ t implies |A∩B| ≥ t·|A|, so A's last ⌈t·|A|⌉−1 elements (in
    * the global sort order the hashed-gram arrays already carry) can be
    * skipped — any qualifying pair MUST share an element inside both
    * (⌊(1−t)·|A|⌋+1)-prefixes. No false negatives, and the join keys are
    * rare prefix tokens instead of whole blocks, so the pair count scales
    * with Σ prefix-bucket² rather than Σ block². */
  def prefixFilterCandidates(grams: DataFrame, idCol: String,
                             gramsCol: String, blockCol: String,
                             threshold: Double): DataFrame = {
    val prefixLen = (size(col(gramsCol)) -
      ceil(lit(threshold) * size(col(gramsCol))).cast("int") + 1)
    val pref = grams.select(col(blockCol), col(idCol),
      explode(slice(col(gramsCol), lit(1), prefixLen)).as("pfx"))
    val a = pref.toDF(blockCol, s"${idCol}_a", "pfx")
    val b = pref.toDF(blockCol, s"${idCol}_b", "pfx")
    a.join(b, Seq(blockCol, "pfx"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .distinct()
  }

  /** N-gram Jaccard near-dup within blocking groups: candidates come from
    * the exact prefix filter (same result set as an all-pairs block join —
    * the within-block m² blowup is gone), then exact token-n-gram Jaccard
    * verifies. `blockCol` (language, source, length band) still bounds the
    * candidate space and keeps prefix-token buckets local. */
  def ngramJaccardNearDups(df: DataFrame, idCol: String, textCol: String,
                           blockCol: String, n: Int = 3,
                           threshold: Double = 0.8): DataFrame = {
    // columnar persist for the wide gram arrays (three consumers: prefix
    // filter + both verify sides); released below once the result is
    // materialized, so no cache residue outlives the call
    val grams = df.select(col(blockCol), col(idCol),
      hashedWordShingles(TextAnalysis.tokens(lower(col(textCol))), n).as("grams"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cands = prefixFilterCandidates(grams, idCol, "grams", blockCol, threshold)
    val ga = grams.select(col(idCol).as(s"${idCol}_a"), col("grams").as("grams_a"))
    val gb = grams.select(col(idCol).as(s"${idCol}_b"), col("grams").as("grams_b"))
    val result = cands.join(ga, s"${idCol}_a").join(gb, s"${idCol}_b")
      // jaccard ≥ t ⇒ gram-set sizes within ratio t: prune pre-intersect
      .filter(size(col("grams_a")).cast("double") >= lit(threshold) * size(col("grams_b")) &&
              size(col("grams_b")).cast("double") >= lit(threshold) * size(col("grams_a")))
      .withColumn("jaccard", jaccardSorted(col("grams_a"), col("grams_b")))
      .filter(col("jaccard") >= threshold)
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("jaccard"))
      .localCheckpoint() // small pair list; then drop the gram cache
    grams.unpersist(blocking = true)
    result
  }
}
