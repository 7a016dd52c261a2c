package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Contamination, Dedup, LineDedup, Pii, QualityFilters, Similarity, TextAnalysis}
import graft.multimodal.Multimodal
import graft.sources.Tables

/** Training-data pipeline battery: text analysis, dedup (exact / MinHash-LSH
  * / SimHash / n-gram Jaccard / embedding-cosine), similarity search, and
  * multimodal plumbing over the `documents` and `embeddings` tables.
  *
  * Near-dup queries run on a corpus of the documents unioned with exact
  * clones (doc_id + 100000) so the expected pairs are known. Oracles are
  * provided wherever the computation is engine-portable (md5, regexp counts,
  * double arithmetic with controlled accumulation order); xxhash64-based ops
  * (MinHash, SimHash) and PRNG-seeded LSH are rows-only checks.
  */
object TrainingData {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** Documents plus exact clones — the near-dup test corpus. */
  private def cloneCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
  }

  /** Evaluate `result` eagerly (localCheckpoint pins it in the block
    * manager, lineage cut), then release every cached input — so no
    * catalog-cache residue outlives the query call for a non-bench
    * caller. CacheHygieneSpec sweeps every multi-branch query through
    * this invariant. */
  private def releasing(cached: org.apache.spark.sql.Dataset[_]*)(
      result: => DataFrame): DataFrame = {
    val r = result.localCheckpoint()
    cached.foreach(_.unpersist(blocking = true))
    r
  }

  def tokenCountQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("ws_tokens"),
        TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
      .orderBy(col("doc_id"))

  def qualityQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy(col("doc_id"))

  def langIdQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"), col("lang"))
      .withColumn("is_match", col("lang_pred") === col("lang"))
      .orderBy(col("doc_id"))

  def fingerprintQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  def exactDedupQ(s: SparkSession, dir: String): DataFrame =
    Dedup.exactDedup(cloneCorpus(s, dir), "text", "doc_id")
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** 32 hashes / 8 bands (r=4): at the 0.95 threshold the banding miss
    * probability per qualifying pair is (1−0.95⁴)⁸ ≈ 1.4e-6 — candidates
    * stay empirically exhaustive against the all-pairs oracle at both test
    * SFs, at half the signature compute of the former 64-hash config. */
  def minhashQ(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashNearDups(cloneCorpus(s, dir), "doc_id", "text",
        shingleSize = 7, threshold = 0.95)
      .orderBy(col("doc_id_a"), col("doc_id_b"))

  /** Portable-hash simhash (md5-derived 60-bit token hash): the DuckDB
    * oracle restates the identical hash, so this row is fully
    * hash-matched. */
  def simhashQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .select(col("doc_id"),
        Dedup.simhash60Portable(TextAnalysis.tokens(lower(col("text")))).as("simhash"))
    d.orderBy(col("doc_id"))
  }

  /** Blocking key (lang, length band): near-dups share language and nearly
    * the same length, so blocks stay small as the corpus grows — the pair
    * count scales with Σ block², not n². */
  /** SimHash near-dup pairs on the clone corpus (portable 60-bit simhash +
    * 15-bit-chunk candidate pairing — pigeonhole still exact for hamming
    * ≤ 3 over 4 chunks); clones surface at hamming 0. The chunked candidate
    * stage produces the same pair set as the oracle's all-pairs SQL. */
  def simhashNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val hashed = cloneCorpus(s, dir).select(col("doc_id"),
      Dedup.simhash60Portable(TextAnalysis.tokens(lower(col("text")))).as("sh"))
    Dedup.simhashNearDups(hashed, "doc_id", "sh", maxDist = 3,
        numChunks = 4, chunkBits = 15, simBits = 60)
      .withColumn("hamming", col("hamming").cast("int"))
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  def ngramJaccardQ(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardNearDups(
        cloneCorpus(s, dir).withColumn("block",
          concat_ws("|", col("lang"), expr("n_chars div 32"))),
        "doc_id", "text", blockCol = "block", n = 3, threshold = 0.9)
      .orderBy(col("doc_id_a"), col("doc_id_b"))

  /** Embedding-cosine near-dups: embeddings unioned with exact clones,
    * blocked by label; clone pairs surface at cosine ≈ 1. */
  def embeddingNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val corpus = e.unionByName(e.withColumn("vec_id", col("vec_id") + 100000))
    Similarity.cosineNearDups(corpus, "vec_id", "embedding", "label", 0.99)
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }

  /** Exact brute-force cosine top-10 against the vec_id=0 embedding. */
  def cosineTopKQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val query = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    Similarity.bruteForceTopK(e, "embedding", "vec_id", query, 10)
  }

  /** LSH-bucketed approximate top-10 (scale path: partition-pruned probe). */
  def annTopKQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val query = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    Similarity.annTopK(e, "embedding", "vec_id", query, 10, numPlanes = 4)
  }

  /** IVF approximate top-10: Lloyd-trained coarse cells, 4-probe search.
    * Training uses the oracle-portable variant (md5-ordered sample,
    * id-ordered accumulation, floor-quantized means), so the DuckDB oracle
    * unrolls the SAME Lloyd iterations in SQL and the row hash-matches. */
  def ivfTopKQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val query = e.filter(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble)
    val centroids = Similarity.ivfCentroidsTrainedPortable(
      e, "embedding", "vec_id", k = 16, iters = 3)
    Similarity.ivfTopK(e, "embedding", "vec_id", query, 10, centroids, nProbe = 4)
  }

  /** Multimodal plumbing: opaque binary payload + decoded metadata struct
    * (decode stubbed deterministically; schema/partitioning real). */
  def multimodalQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("payload", Multimodal.asPayload(col("text")))
      .withColumn("meta", Multimodal.fakeDecodeMeta(col("payload")))
      .select(col("doc_id"), col("meta.n_bytes").as("n_bytes"),
        col("meta.format").as("format"), col("meta.width").as("width"),
        col("meta.height").as("height"))
      .orderBy(col("doc_id"))

  /** Frame-sampling batch shape: 5 evenly-spaced 16-byte windows per doc,
    * one output row per frame (id, index, byte count, content) — the
    * deterministic offset math is oracle-checked in DuckDB. */
  def frameSampleQ(s: SparkSession, dir: String): DataFrame = {
    val media = docs(s, dir)
      .withColumn("payload", Multimodal.asPayload(col("text")))
    Multimodal.sampleFrames(media, "doc_id", "payload", n = 5, frameBytes = 16)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        length(col("frame")).cast("long").as("frame_bytes"),
        col("frame").cast("string").as("frame_text"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** Raw-media directory ingest under the gate: the `binaryFile`
    * source is how a Spark cluster reads a crawl's image dump (one
    * file → one row, no codec assumptions), and this gate drives the
    * WHOLE media path with real bytes — synthesize a valid BMP per
    * sampled document (dims derived from doc fields), write the files
    * distributed (one task-local `Files.write` per doc, no driver
    * loop), list-read them back through `binaryFile`, recover the doc
    * id from the filename, and parse format/width/height out of the
    * actual header bytes via the [[graft.multimodal.ImageHeaders]]
    * codec-seam binding. The oracle restates the dim arithmetic from
    * the documents table — any corruption in synth, file I/O, listing,
    * filename parse, or header decode breaks the hash.
    *
    * At 100 TB: `binaryFile` assigns whole files to input partitions
    * (media files never split mid-payload) and prunes by
    * `pathGlobFilter`; the decode itself stays per-partition (the
    * [[Multimodal.decodePartitions]] seam). */
  def binaryIngestQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q175") { base =>
      val media = java.nio.file.Files
        .createDirectories(base.resolve("media")).toString
      docs(s, dir)
        .where(col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          ((col("n_chars") % 640) + 1).cast("int").as("w"),
          ((col("doc_id") % 480) + 1).cast("int").as("h"))
        .foreachPartition { it: Iterator[org.apache.spark.sql.Row] =>
          it.foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(media, s"${r.getLong(0)}.bmp"),
              Multimodal.syntheticBmp(r.getInt(1), r.getInt(2)))
          }
        }
      val bin = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp").load(media)
        .select(regexp_extract(col("path"), "(\\d+)\\.bmp$", 1)
          .cast("long").as("doc_id"), col("content"))
      Multimodal.decodePartitions(bin, "doc_id", "content",
          graft.multimodal.ImageHeaders.headerCodec)
        .select(col("doc_id"), col("meta.format").as("format"),
          col("meta.width").as("width"), col("meta.height").as("height"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Deterministic stratified sampling (corpus rebalancing): keep 50% of
    * en, 25% of es, 10% of the rest, decided per row by a stable md5
    * coordinate — reproducible on any partitioning, stated identically in
    * the oracle. */
  def stratifiedSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.stratifiedSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 0.25), defaultRate = 0.1)
      .select(col("doc_id"), col("lang"),
        graft.functions.Sampling.hashBucket(col("doc_id")).as("bucket"))
      .orderBy(col("doc_id"))

  /** Scrape cleanup: markup stripped, whitespace collapsed (tags injected
    * around the document text so the strip path is exercised). */
  def textCleanQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        TextAnalysis.cleanText(concat(lit("<p class=\"x\">"), col("text"),
          lit("</p>\n<br/>"))).as("cleaned"))
      .orderBy(col("doc_id"))

  /** The full curation pipeline COMPOSED end-to-end — what a training-data
    * user actually runs: language filter → quality gate → exact dedup →
    * deterministic 50% sample, over the clone corpus so the dedup stage
    * does real work. Every stage is an existing operator; the oracle
    * restates the whole chain (filters commute with dedup because both
    * predicates are text-derived, so clone groups pass or fail together). */
  def curationQ(s: SparkSession, dir: String): DataFrame = {
    val scored = cloneCorpus(s, dir).select(col("doc_id"), col("text"),
      length(col("text")).cast("long").as("len"),
      TextAnalysis.qualityScore(col("text")).as("quality"),
      TextAnalysis.langId(col("text")).as("lang_pred"))
    val filtered = scored
      .filter(col("lang_pred") === "en" && col("quality") >= 0.55)
    val deduped = Dedup.exactDedup(filtered, "text", "doc_id")
    graft.functions.Sampling.hashSample(deduped, "doc_id", 0.5)
      .select(col("doc_id"), col("len"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Near-dup pairs → dedup CLUSTERS via distributed connected components
    * (large-star/small-star). The corpus is three generations of each doc
    * and the pair list is a CHAIN (i ↔ i+100000 ↔ i+200000, plus any
    * exact-text pairs among the originals): generation 0 and 2 are never
    * paired directly, so the cluster labels require genuine transitive
    * closure — which the oracle recomputes independently with a recursive
    * CTE, not by rederiving the id arithmetic. */
  def dedupClustersQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val ids = d.select(col("doc_id"))
      .unionByName(d.select((col("doc_id") + 100000).as("doc_id")))
      .unionByName(d.select((col("doc_id") + 200000).as("doc_id")))
    val chain = d.select(col("doc_id").as("a"),
        (col("doc_id") + 100000).as("b"))
      .unionByName(d.select((col("doc_id") + 100000).as("a"),
        (col("doc_id") + 200000).as("b")))
    val sameText = d.toDF("a", "ta")
      .join(d.toDF("b", "tb"), col("ta") === col("tb") && col("a") < col("b"))
      .select(col("a"), col("b"))
    val pairs = chain.unionByName(sameText)
    graft.operators.Components.assignClusters(ids, "doc_id", pairs, "a", "b")
      .select(col("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  /** Dedup cluster-size telemetry under the gate (q255): q56's
    * transitive-closure fixture rolled up to the size histogram
    * ([[graft.operators.Components.clusterSizeHistogram]]) — the
    * chain-of-3 clusters and the same-text merged clusters land at
    * different sizes, so a closure that under-merges (sizes split) or
    * a histogram that counts docs where it should count clusters both
    * move rows. */
  def clusterHistogramQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    val ids = d.select(col("doc_id"))
      .unionByName(d.select((col("doc_id") + 100000).as("doc_id")))
      .unionByName(d.select((col("doc_id") + 200000).as("doc_id")))
    val chain = d.select(col("doc_id").as("a"),
        (col("doc_id") + 100000).as("b"))
      .unionByName(d.select((col("doc_id") + 100000).as("a"),
        (col("doc_id") + 200000).as("b")))
    val sameText = d.toDF("a", "ta")
      .join(d.toDF("b", "tb"), col("ta") === col("tb") && col("a") < col("b"))
      .select(col("a"), col("b"))
    // planted chain-merging edges so the histogram carries three sizes
    // (3 / 6 / 9 at sf0.01: 390 / 40 / 10 clusters)
    def mergeEdges(step: Long, every: Long) = d.select(col("doc_id").as("a"))
      .join(d.select(col("doc_id").as("b")), col("b") === col("a") + step)
      .filter(col("a") % every === 0)
    val pairs = chain.unionByName(sameText)
      .unionByName(mergeEdges(1, 10)).unionByName(mergeEdges(2, 50))
    graft.operators.Components.clusterSizeHistogram(
        graft.operators.Components.assignClusters(ids, "doc_id",
          pairs, "a", "b"))
      .orderBy(col("cluster_size"))
  }

  /** Top-3 BM25-salient terms per document. `logIdf = false` keeps every
    * arithmetic step transcendental-free (+,−,×,÷ on doubles are IEEE
    * bit-identical across engines; ln is not guaranteed correctly rounded
    * and differs between libm and the JVM) — the ranking is unchanged
    * because ln is monotone. */
  def bm25TermsQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.TermStats.bm25TopTerms(docs(s, dir), "doc_id", "text",
        k = 3, logIdf = false)
      .orderBy(col("doc_id"), col("score").desc, col("term"))

  /** Global heavy hitters: top-20 tokens by occurrence count. */
  def heavyHittersQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.TermStats.heavyHitters(docs(s, dir), "doc_id", "text", 20)

  /** Exact-k-per-language deterministic sample — the fixed-budget corpus
    * rebalancer (50 docs per language, stable md5 pick). */
  def groupSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.perGroupSample(docs(s, dir), "doc_id", "lang", 50)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Z-order clustering key over (n_chars, doc_id) — the multi-column
    * data-skipping sort key (ZOrderSpec pins the file-pruning effect on the
    * lake write path; this pins the interleave arithmetic cross-engine). */
  def zorderKeyQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        graft.operators.ZOrder.zValue(
          Seq(col("n_chars"), col("doc_id")), 16).as("zkey"))
      .orderBy(col("doc_id"))

  /** Collocations: top-20 bigrams by (log-free) pointwise mutual
    * information with a min-count guard. */
  def collocationsQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.TermStats.collocations(docs(s, dir), "doc_id", "text",
      k = 20)

  /** Incremental corpus dedup: a batch of half re-crawled dups (even ids,
    * verbatim text) and half genuinely new docs (odd ids, suffixed text)
    * dedups against the full documents corpus by md5 fingerprint — only the
    * new docs survive. The bloom prefilter is pruning only; the oracle is
    * the plain dedup-then-anti-join. */
  def incrementalDedupQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.select(col("doc_id"), md5(col("text")).as("fp"))
    val batch = d.filter(col("doc_id") % 2 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
      .unionByName(d.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" fresh "),
            (col("doc_id") + 200000).cast("string")).as("text")))
      .select(col("doc_id"), md5(col("text")).as("fp"))
    graft.functions.Dedup.incrementalDedup(batch, corpus, "fp", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Token-budget shard packing over the documents corpus (distributed
    * prefix sum; the oracle restates the single-window formulation the
    * operator provably equals). */
  def shardPackQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sharding.packShards(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", budget = 50000)
      .select(col("doc_id"), col("cum_weight"), col("shard_id"))
      .orderBy(col("doc_id"))

  /** Target-mixture rebalance: the largest deterministic sample that is
    * 50% en / 25% es / 25% de (exact-k per stratum, scarcest stratum sets
    * the scale). Proportions are dyadic so ÷, min, ×, floor restate
    * bit-identically in the oracle. */
  def mixtureSampleQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.mixtureSample(docs(s, dir), "doc_id", "lang",
        Map("en" -> 0.5, "es" -> 0.25, "de" -> 0.25))
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Benchmark decontamination report: docs with doc_id % 7 == 0 play the
    * held-out benchmark; every corpus doc reports its distinct word-8-gram
    * count, how many shingles the benchmark shares, and the contamination
    * flag. Benchmark members themselves surface at contam_frac = 1. */
  def decontamQ(s: SparkSession, dir: String): DataFrame = {
    // corpus and benchmark branch off the same frame — persist so the
    // parquet scan + shingle prep runs once (multi-branch recompute trap)
    val d = docs(s, dir).persist()
    releasing(d) {
      Contamination.overlapReport(d, "doc_id", "text",
          d.filter(col("doc_id") % 7 === 0), "text", n = 8)
        .orderBy(col("doc_id"))
    }
  }

  /** PII redaction + audit counts. Deterministic PII (an email, a phone, an
    * IPv4 derived from doc_id) is appended to each document so the redaction
    * path does real work; counts are taken on the original text. */
  def piiRedactQ(s: SparkSession, dir: String): DataFrame = {
    val withPii = docs(s, dir).select(col("doc_id"), concat(
      col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@mail.example.com call "),
      (col("doc_id") % 700 + 300).cast("string"), lit("-555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" from 203.0."), (col("doc_id") % 256).cast("string"),
      lit(".77")).as("text"))
    withPii.select(col("doc_id"),
        Pii.redact(col("text")).as("redacted"),
        Pii.emailCount(col("text")).cast("long").as("n_email"),
        Pii.phoneCount(col("text")).cast("long").as("n_phone"),
        Pii.ipv4Count(col("text")).cast("long").as("n_ip"))
      .orderBy(col("doc_id"))
  }

  /** Corpus-wide line-level exact dedup over the clone corpus: every clone's
    * lines are repeats of the original's, so clones keep 0 lines; originals
    * lose exactly the lines some earlier document already used. */
  def lineDedupQ(s: SparkSession, dir: String): DataFrame =
    LineDedup.dedupLines(cloneCorpus(s, dir), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Hashed-linear-model quality scoring (fasttext-style inference with
    * fixed deterministic weights): mean token logit + keep flag. */
  def qualityClassifierQ(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
        QualityFilters.linearScore(col("text")).as("logit"))
      .withColumn("keep", col("logit") > 0.0)
      .orderBy(col("doc_id"))

  /** Gopher-style repetition metrics + keep flag. All ratios are exact
    * integer counts divided once at the end, so the doubles restate
    * bit-identically; the top-bigram count is an integer, so the engine's
    * O(m log m) run-length walk and the oracle's all-pairs recount agree
    * exactly. */
  def repetitionQ(s: SparkSession, dir: String): DataFrame =
    // tokenize ONCE into a bound column: the line/bigram lambdas capture
    // the token array, and HOFs re-evaluate captured expressions per
    // element — an inline tokens() here was measured O(m²) per document
    // (16.6s at sf0.1; ~1s materialized)
    docs(s, dir)
      .select(col("doc_id"),
        TextAnalysis.tokens(lower(col("text"))).as("_toks"))
      .select(col("doc_id"),
        QualityFilters.dupTokenFrac(col("_toks")).as("dup_token_frac"),
        QualityFilters.dupLineFrac(col("_toks")).as("dup_line_frac"),
        QualityFilters.topBigramFrac(col("_toks")).as("top_bigram_frac"))
      .withColumn("keep",
        col("dup_line_frac") <= lit(0.2) && col("top_bigram_frac") <= lit(0.2))
      .orderBy(col("doc_id"))

  /** The round-6 curation operators COMPOSED end-to-end — PII redaction →
    * corpus-wide line-level dedup → quality-classifier + repetition gates →
    * benchmark decontamination (exercising `decontaminate` itself, strict
    * maxFrac = 0.0) — over the clone corpus so every stage does real work:
    * clones lose all their lines to the originals, benchmark members (and
    * any doc sharing an 8-gram with one) are dropped. The oracle restates
    * the whole chain stage-for-stage. */
  def curationFullQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // three branches: 2× corpus union + bench
    val corpus = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    val redacted = corpus.select(col("doc_id"),
      Pii.redact(col("text")).as("text"))
    val survivors = LineDedup.dedupLines(redacted, "doc_id", "text")
      .filter(col("n_kept") > 0)
      .select(col("doc_id"), col("kept_text").as("text"))
    val gated = survivors
      .select(col("doc_id"), col("text"),
        TextAnalysis.tokens(lower(col("text"))).as("_toks"))
      .withColumn("logit", QualityFilters.linearScoreFromTokens(col("_toks")))
      .withColumn("top_bigram_frac", QualityFilters.topBigramFrac(col("_toks")))
      .filter(col("logit") > lit(-0.05) && col("top_bigram_frac") <= lit(0.5))
      .persist() // probed twice: overlap report + anti-join survivor side
    releasing(d, gated) {
      Contamination.decontaminate(gated, "doc_id", "text",
          d.filter(col("doc_id") % 7 === 0), "text", n = 8, maxFrac = 0.0)
        .select(col("doc_id"), size(col("_toks")).cast("long").as("n_tokens"),
          col("logit"))
        .orderBy(col("doc_id"))
    }
  }

  /** Context-window chunking: 32-token windows, stride 24 (sliding
    * overlap) — multiple chunks per document at this corpus' lengths,
    * with a ragged final window. */
  def chunkingQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Chunking.chunkDocuments(docs(s, dir), "doc_id", "text",
        maxTokens = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** Tokenizer-coverage: per-document OOV rate against the corpus' own
    * top-50 token vocabulary (persisted — vocabulary derivation and the
    * membership probe both scan the corpus). */
  def oovRateQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist()
    releasing(d) {
      graft.functions.TermStats.oovRate(d, "doc_id", "text", vocabSize = 50)
        .orderBy(col("doc_id"))
    }
  }

  /** Exact substring-span dedup report (Lee et al. style) over the clone
    * corpus: every 8-token window of a clone is duplicated by construction,
    * so clones (and their originals) surface at dup_span_frac = 1; the
    * within-doc repetition path is exercised by any document that repeats
    * an 8-gram. */
  def spanDedupQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // two branches: corpus union sides
    val corpus = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    releasing(d) {
      graft.functions.SpanDedup.spanReport(corpus, "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    }
  }

  /** Unigram-LM surprisal scoring against the corpus' own token counts
    * (bit-length-quantized so the doubles restate exactly). */
  def surprisalQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // model derivation + report join branches
    releasing(d) {
      graft.functions.LangModel.surprisalReport(d, "doc_id", "text")
        .orderBy(col("doc_id"))
    }
  }

  /** SemDeDup over the embedding clone corpus: portable-Lloyd cells are the
    * blocks, clones land in their original's cell at cosine 1 and drop
    * (keep = false); the oracle unrolls the training like q42's. */
  def semanticDedupQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val corpus = e.unionByName(e.withColumn("vec_id", col("vec_id") + 100000))
      .persist() // trainer sample + assignment branches
    releasing(corpus) {
      Similarity.semanticDedup(corpus, "vec_id", "embedding",
          k = 16, threshold = 0.99)
        .orderBy(col("vec_id"))
    }
  }

  /** Deterministic 80/10/10 train/val/test split on the stable md5
    * coordinate — every row in exactly one split, stable as the corpus
    * grows. */
  def hashSplitQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.hashSplit(docs(s, dir), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy(col("doc_id"))

  /** Data-card slice statistics: volume + exact length percentiles per
    * (source, lang). */
  def corpusStatsQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.CorpusStats.corpusStats(docs(s, dir),
        "source", "lang", "text", "n_chars")
      .orderBy(col("source"), col("lang"))

  /** Exact-duplicate rate per source over the clone corpus (clones keep the
    * source of their original, so every source shows dup_rate = 0.5). */
  def dupRateBySourceQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // corpus union branches
    val corpus = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    releasing(d) {
      graft.functions.CorpusStats.dupRateBySource(corpus, "doc_id", "text", "source")
        .orderBy(col("source"))
    }
  }

  /** Top-100 vocabulary with cumulative corpus coverage. */
  def vocabCoverageQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.CorpusStats.vocabCoverage(docs(s, dir), "doc_id", "text", 100)
      .orderBy(col("rank"))

  /** Per-source distinct-token cardinality via the mergeable KMV sketch
    * (k = 256, custom bounded-buffer Catalyst aggregate) next to the exact
    * distinct count it estimates — the sketch is deterministic given the
    * md5 hash60, so the oracle restates it with a row_number() ≤ k. */
  def kmvDistinctQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.distinctReport(
        docs(s, dir).select(col("source"),
          explode(TextAnalysis.tokens(lower(col("text")))).as("term")),
        Seq("source"), "term", k = 256)
      .orderBy(col("source"))

  /** Dataset-versioning churn audit: old = the corpus; new = the corpus
    * with every 7th doc dropped, every 5th doc's text revised, and 50
    * fresh ids appended — one status row per id on either side, via the
    * join-free tagged-union diff. */
  def snapshotDiffQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // old + both new branches
    val oldSnap = d.select(col("doc_id"), col("text"))
    val newSnap = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    releasing(d) {
      graft.operators.SnapshotDiff.diff(oldSnap, newSnap, "doc_id", Seq("text"))
        .orderBy(col("doc_id"))
    }
  }

  /** Training-sequence packing: disjoint 32-token chunks concatenated in
    * (doc, chunk) order and cut every 512 tokens — the GPT-style
    * dataloader prep. Manifest rows prove every sequence fills to exactly
    * 512 (the last one ragged) and track document provenance. */
  def seqPackQ(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.functions.Chunking.chunkDocuments(docs(s, dir),
        "doc_id", "text", maxTokens = 32, stride = 32)
      // collision-PROOF packing key: fixed-width decimal doc_id (19
      // digits holds any non-negative Long) + 10-digit chunk index, so
      // string order == (doc_id, chunk_idx) order at ANY id scale — an
      // arithmetic stride (doc_id * 2^32 + chunk_idx) would wrap for
      // snowflake-style ids >= 2^31, and the original 10000 stride
      // collided at >=10000 chunks (~320k tokens)
      .withColumn("_key", concat(
        lpad(col("doc_id").cast("string"), 19, "0"),
        lpad(col("chunk_idx").cast("string"), 10, "0")))
    val packed = graft.functions.Sharding.packSequences(chunks, "_key",
      "n_tokens", capacity = 512)
    graft.functions.Sharding.sequenceManifest(packed, "doc_id")
      .orderBy(col("seq_id"))
  }

  /** Int8 embedding-quantization audit: global per-dimension calibration,
    * level assignment, exact integer level checksum + order-free
    * reconstruction-error maxima per dimension. */
  def quantizeQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings").persist() // calibrate + audit
    releasing(e) {
      graft.functions.Quantize.quantReport(e, "embedding")
        .orderBy(col("dim"))
    }
  }

  /** Sparse TF-IDF retrieval: "more documents like doc 0" through the
    * inverted-index join, scores as order-independent scaled integers. */
  def sparseRetrievalQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // query text + postings + doc count
    val queryText = d.filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
    releasing(d) {
      graft.functions.TermStats.sparseTopK(d, "doc_id", "text", queryText, 10)
    }
  }

  /** TextRank keyword salience: fixed-point integer PageRank over the
    * corpus term co-occurrence graph (bigram count ≥ 5, symmetrized), 3
    * iterations — the iterative-join graph workload, hash-comparable
    * across engines because every step is integer arithmetic. */
  def textRankQ(s: SparkSession, dir: String): DataFrame =
    graft.operators.PageRank.textRank(docs(s, dir), "doc_id", "text",
      minCount = 5, iters = 3, k = 100)

  /** Robust per-source length-outlier gate: median + MAD with a 3×MAD
    * keep rule — heavy-tail-safe, and exact because every interpolated
    * percentile lands on a multiple of 0.5. */
  def robustOutlierQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // median pass + deviation pass
    releasing(d) {
      graft.functions.CorpusStats.lengthOutlierReport(
          d, "doc_id", "source", "n_chars")
        .orderBy(col("doc_id"))
    }
  }

  /** Cross-corpus near-dup probe: the corpus vs a simulated "new crawl"
    * (its exact clones) through the bipartite LSH band join — every doc
    * must surface against its clone at jaccard 1, plus any genuine
    * cross pair at ≥ 0.95 (the q27 machinery, but no within-side pairs
    * are ever generated). */
  def crossCorpusQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // both probe sides derive from it
    val crawl = d.select((col("doc_id") + 100000).as("doc_id"), col("text"))
    releasing(d) {
      Dedup.crossCorpusNearDups(d, crawl, "doc_id", "text",
          shingleSize = 7, threshold = 0.95)
        .orderBy(col("doc_id_a"), col("doc_id_b"))
    }
  }

  /** Composed dataloader prep: robust outlier gate → disjoint chunking →
    * sequence packing — the final mile from curated corpus to training
    * sequences, chained so the gate's survivors feed the packer's global
    * token order (the q71 composition pattern for the round-8 surface). */
  def dataloaderPrepQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // gate stats + survivor text branches
    val kept = graft.functions.CorpusStats
      .lengthOutlierReport(d, "doc_id", "source", "n_chars")
      .filter(col("keep")).select(col("doc_id"))
    val survivors = d.join(kept, "doc_id")
    val chunks = graft.functions.Chunking.chunkDocuments(survivors,
        "doc_id", "text", maxTokens = 32, stride = 32)
      // collision-PROOF packing key: fixed-width decimal doc_id (19
      // digits holds any non-negative Long) + 10-digit chunk index, so
      // string order == (doc_id, chunk_idx) order at ANY id scale — an
      // arithmetic stride (doc_id * 2^32 + chunk_idx) would wrap for
      // snowflake-style ids >= 2^31, and the original 10000 stride
      // collided at >=10000 chunks (~320k tokens)
      .withColumn("_key", concat(
        lpad(col("doc_id").cast("string"), 19, "0"),
        lpad(col("chunk_idx").cast("string"), 10, "0")))
    val packed = graft.functions.Sharding.packSequences(chunks, "_key",
      "n_tokens", capacity = 512)
    releasing(d) {
      graft.functions.Sharding.sequenceManifest(packed, "doc_id")
        .orderBy(col("seq_id"))
    }
  }

  /** Winnowed substring fingerprints over the clone corpus: every
    * fingerprint of a cloned document is shared by construction, and the
    * winnowed set is a provably-bounded subset of the full span set
    * (density ~2/(w+1), recall floor at runs ≥ w+n−1 tokens). */
  def winnowQ(s: SparkSession, dir: String): DataFrame =
    // no persist: winnowReport's aligned-filter shape lets AQE reuse the
    // explode stage across both consumer branches, and the id-restore
    // branch prunes down to the doc_id column — caching the text column
    // here only added block-manager writes (probed slower at sf0.1)
    graft.functions.SpanDedup.winnowReport(cloneCorpus(s, dir), "doc_id",
        "text", n = 8, w = 4)
      .orderBy(col("doc_id"))

  /** Exact-substring dedup REMOVAL over the clone corpus — the Lee et al.
    * rewrite pass (q74/q90 only report): every clone's text vanishes
    * entirely (its every window's first occurrence lives in the original),
    * originals keep theirs, and organic cross-document duplicate runs are
    * cut at every non-first site. The oracle restates the whole rewrite —
    * global (doc_id·2^20 + pos) first-occurrence min, coverage union,
    * ordered token rejoin — so a wrong cut anywhere breaks the hash. */
  def spanRemovalQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.SpanDedup.removeDuplicateSpans(cloneCorpus(s, dir),
        "doc_id", "text", n = 8)
      .orderBy(col("doc_id"))

  /** In-cluster hard-negative mining over the labeled embeddings — for
    * each vector, its most-similar DIFFERENT-label cellmate (the pairs a
    * contrastive objective learns most from). Cells are the portable
    * Lloyd quantizer's; the oracle unrolls the training and restates the
    * within-cell argmax (cosine DESC, then id) per vector. */
  def hardNegativesQ(s: SparkSession, dir: String): DataFrame =
    Similarity.hardNegatives(Tables.load(s, dir, "embeddings"),
        "vec_id", "embedding", "label", k = 16)
      .orderBy(col("vec_id"))

  /** Bigram conditional surprisal against the corpus' own pair counts —
    * the first-order refinement of q75's unigram signal. */
  def bigramSurprisalQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.LangModel.bigramSurprisalReport(docs(s, dir),
        "doc_id", "text")
      .orderBy(col("doc_id"))

  /** Deterministic JL sign projection 64 → 8 dims, exploded to scalars —
    * the ANN-compression preprocessing step, hash-derived matrix, no
    * model artifact; the oracle regenerates the identical matrix from the
    * same formula and restates each output dim as the same left-to-right
    * addition chain. */
  def randomProjectionQ(s: SparkSession, dir: String): DataFrame = {
    val signs = Similarity.signMatrix(inDim = 64, outDim = 8)
    Tables.load(s, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(Similarity.signProject(col("embedding"), signs))
          .as(Seq("pdim", "pval")))
      .orderBy(col("vec_id"), col("pdim"))
  }

  /** PCA sufficient statistics under the gate: the per-dimension-pair
    * moment sums a PCA fit starts from, over the first 16 dimensions,
    * each addend quantized to an exact integer (`floor(x·10⁶)` of an
    * IEEE product both engines evaluate identically) so BIGINT sums are
    * order-independent and hash-stable. */
  def pcaMomentsQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .select(col("embedding"))
    val first = e
      .select(col("embedding"), posexplode(col("embedding")))
      .toDF("embedding", "i", "xi")
      .where(col("i") < 16)
    first
      .select(col("i"), col("xi").cast("double").as("xi"),
        posexplode(col("embedding")))
      .toDF("i", "xi", "j", "xj")
      .where(col("j") >= col("i") && col("j") < 16)
      .withColumn("xj", col("xj").cast("double"))
      .groupBy(col("i"), col("j"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("xi") * col("xj") * lit(1e6)).cast("long")).as("sxx"),
        sum(floor(col("xi") * lit(1e6)).cast("long")).as("sx"),
        sum(floor(col("xj") * lit(1e6)).cast("long")).as("sy"))
      .orderBy(col("i"), col("j"))
  }

  /** Count-min sketch demo: build the 4×1024 cell frame over corpus
    * tokens, then point-estimate the exact top-20 heavy hitters from the
    * sketch alone — estimates never undercount and stay tight for heavy
    * terms. */
  def countMinQ(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir)
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .persist() // cells + exact-count branches
    val cells = graft.functions.Sketches.countMinCells(toks, "term")
    val top = toks.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("term")).limit(20)
    releasing(toks) {
      graft.functions.Sketches.countMinEstimate(cells, top, "term")
        .join(top, "term")
        .select(col("term"), col("cnt"), col("est_count"))
        .orderBy(col("cnt").desc, col("term"))
    }
  }

  /** Corpus-composition clustering: portable-Lloyd cells × label counts —
    * "what mixture of sources/domains does each embedding cluster hold",
    * the analysis behind mixture reweighting decisions. Training and
    * assignment reuse the q42/q76 machinery, so the oracle unrolls the
    * identical Lloyd chain. */
  def clusterCompositionQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
      .persist() // trainer sample + assignment branches
    val centroids = Similarity.ivfCentroidsTrainedPortable(
      e, "embedding", "vec_id", k = 16, iters = 3)
    releasing(e) {
      e.withColumn("cell", Similarity.ivfCell(col("embedding"), centroids))
        .groupBy(col("cell"), col("label"))
        .agg(count(lit(1)).as("n_vecs"))
        .orderBy(col("cell"), col("label"))
    }
  }

  /** Per-language tokenizer fertility — BPE tokens per word and chars per
    * BPE token, the underserved-language diagnostic. */
  def fertilityQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.CorpusStats.tokenizerFertility(docs(s, dir),
        "lang", "text")
      .orderBy(col("lang"))

  /** Compression-quality audit: brute-force top-10 in the 8-dim
    * sign-projected space, flagged against the exact 64-dim top-10 — the
    * recall@10 a team reads before committing to 8× scan-byte
    * compression. Both rankings and the overlap are fully deterministic
    * (projection chains + sequential-accumulation cosine). */
  def projectedRecallQ(s: SparkSession, dir: String): DataFrame = {
    val signs = Similarity.signMatrix(inDim = 64, outDim = 8)
    val e = Tables.load(s, dir, "embeddings")
      .withColumn("p", Similarity.signProject(col("embedding"), signs))
      .persist() // query rows + exact + projected branches
    val qFull = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val qProj = e.filter(col("vec_id") === 0).select(col("p"))
      .head().getSeq[Double](0)
    val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", qFull, 10)
      .select(col("vec_id"), lit(true).as("in_exact"))
    releasing(e) {
      Similarity.bruteForceTopK(e, "p", "vec_id", qProj, 10)
        .withColumnRenamed("cosine_sim", "proj_sim")
        .join(exact, Seq("vec_id"), "left")
        .select(col("vec_id"), col("proj_sim"),
          coalesce(col("in_exact"), lit(false)).as("in_exact_topk"))
        .orderBy(col("proj_sim").desc, col("vec_id"))
    }
  }

  /** Saturated-KMV estimate: distinct document fingerprints corpus-wide
    * (500 > k = 256, so unlike q81's small vocabulary this exercises the
    * REAL `(k−1)/(h_k/2^60)` estimator branch under the gate, not just
    * the exhaustive-sketch fallback). */
  def kmvSaturatedQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.distinctReport(
      docs(s, dir).select(
        TextAnalysis.fingerprint(col("text")).cast("string").as("fp")),
      Seq.empty, "fp", k = 256)

  /** Corpus data card v2 — the q89 composition pattern over the round-8
    * observability surface: ONE per-source report joining the exact
    * volume counts + tokenizer fertility (q95 machinery), the KMV
    * distinct-token estimate (q81), and each source's top term with its
    * count-min frequency estimate probed from the CORPUS-WIDE 4×1024
    * sketch (q93). Every number rides the md5 portability seams, so the
    * whole card restates in SQL — the one-stop report a data team reads
    * per crawl drop. */
  def dataCardQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // fertility + token branches
    // toks feeds THREE branches (KMV sketch, count-min cells, per-source
    // term frequencies) — localCheckpoint so tokenize+explode runs once
    val toks = d.select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .localCheckpoint()
    val fert = graft.functions.CorpusStats.tokenizerFertility(d, "source", "text")
    val kmv = graft.functions.Sketches.distinctReport(
        toks, Seq("source"), "term", k = 256)
      .withColumnRenamed("n_exact", "n_distinct_terms")
    val cells = graft.functions.Sketches.countMinCells(toks, "term")
    val tf = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("cnt"))
    // deterministic argmax: highest count, lexicographically smallest
    // term on ties — min over the (-cnt, term) struct
    val top = tf.groupBy(col("source"))
      .agg(min_by(col("term"), struct((-col("cnt")).as("nc"), col("term")))
          .as("top_term"),
        max(col("cnt")).as("top_cnt"))
    val est = graft.functions.Sketches.countMinEstimate(
        cells, top.select(col("top_term").as("term")), "term")
      .withColumnRenamed("term", "top_term")
      .withColumnRenamed("est_count", "top_term_est")
    // materialize the (per-source, tiny) card first, THEN release the
    // docs cache — the minhashNearDups discipline: no cache residue
    // outlives the call (DedupSpec pins cacheManager.isEmpty)
    val card = fert.join(kmv, "source").join(top, "source").join(est, "top_term")
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_bpe_tokens"), col("fertility"), col("chars_per_token"),
        col("sketch_size"), col("est_distinct"), col("n_distinct_terms"),
        col("top_term"), col("top_cnt"), col("top_term_est"))
      .orderBy(col("source"))
      .localCheckpoint()
    d.unpersist(blocking = true)
    card
  }

  /** Split-leakage audit: near-duplicate pairs that straddle a
    * train/val/test boundary leak training signal into evaluation — the
    * check a team runs before trusting held-out numbers (and the reason
    * dedup must precede splitting). Composition: [[graft.functions
    * .Sampling.hashSplit]] assigns the deterministic md5-cut 80/10/10
    * split, the q27 minhash machinery finds near-dup pairs over the
    * clone corpus (clones hash to different splits than their
    * originals, so leaks exist by construction), and the report emits
    * every pair with both split labels and the leak flag. The oracle
    * recounts the pairs exhaustively and restates the md5 cut. */
  def splitLeakageQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.unionByName(d.withColumn("doc_id", col("doc_id") + 100000))
    val split = graft.functions.Sampling.hashSplit(
      corpus.select(col("doc_id")), "doc_id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // The bucket cap must NOT bite here: this query is gated against an
    // EXHAUSTIVE all-pairs oracle, so a text repeated more than
    // maxBucket/2 times in the base corpus (×2 after cloning) would have
    // its qualifying pairs capped away on the Spark side while the
    // oracle still counts them — data-dependent divergence at other
    // scale factors. The audit variant trades the cap for oracle
    // exactness; production callers keep the default capped entry point.
    Dedup.minhashNearDups(corpus, "doc_id", "text",
        shingleSize = 7, threshold = 0.95, maxBucket = 1 << 16)
      .select(col("doc_id_a"), col("doc_id_b"))
      .join(split.toDF("doc_id_a", "split_a"), "doc_id_a")
      .join(split.toDF("doc_id_b", "split_b"), "doc_id_b")
      .select(col("doc_id_a"), col("doc_id_b"), col("split_a"),
        col("split_b"), (col("split_a") =!= col("split_b")).as("leaks"))
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  /** Top-3 terms per source via the bounded mergeable top-k aggregate —
    * partial state is ≤ k entries per group per partition (vs
    * collect_list buffering the whole per-source vocabulary on every map
    * task); ties break deterministically on (weight DESC, term ASC), so
    * the oracle's row_number restatement matches exactly. */
  def topTermsQ(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir).select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("cnt"))
    tf.groupBy(col("source"))
      .agg(graft.functions.Sketches.topK(col("term"), col("cnt"), 3).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rk", "s")))
      .select(col("source"), (col("rk") + 1).cast("long").as("rank"),
        col("s.item").as("term"), col("s.weight").as("cnt"))
      .orderBy(col("source"), col("rank"))
  }

  /** Per-source char-budget packing via the GROUPED distributed prefix
    * sum — each source's running total restarts at zero, so the shard
    * ids are per-stratum; filtering `cum_weight < B` would be the
    * equal-budget stratified sample a mixture builder takes. The oracle
    * restates the per-group single-window formulation the operator
    * provably equals (ShardingSpec). */
  def groupedPackQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sharding.packShardsBy(
        docs(s, dir).select(col("source"), col("doc_id"), col("n_chars")),
        Seq("source"), "doc_id", "n_chars", budget = 15000)
      .select(col("source"), col("doc_id"), col("cum_weight"), col("shard_id"))
      .orderBy(col("source"), col("doc_id"))

  /** Deterministic epoch shuffle + pack: a training run wants a
    * DIFFERENT but REPRODUCIBLE corpus order each epoch. The order key
    * is md5("epoch:doc_id") — a stateless pseudo-random permutation —
    * with the zero-padded chunk index appended so chunks stay contiguous
    * within their document; the chunk stream then packs into 512-token
    * sequences in that order through the distributed prefix sum.
    * Re-running the same epoch reproduces bit-identically; changing the
    * epoch literal reshuffles everything. */
  def epochShufflePackQ(s: SparkSession, dir: String): DataFrame = {
    val epoch = 3
    val chunks = graft.functions.Chunking.chunkDocuments(docs(s, dir),
        "doc_id", "text", maxTokens = 32, stride = 32)
      .withColumn("_key", concat(
        md5(concat_ws(":", lit(epoch), col("doc_id"))),
        lpad(col("chunk_idx").cast("string"), 10, "0")))
    val packed = graft.functions.Sharding.packSequences(chunks, "_key",
      "n_tokens", capacity = 512)
    graft.functions.Sharding.sequenceManifest(packed, "doc_id")
      .orderBy(col("seq_id"))
  }

  /** Deterministic weighted sample: longer docs carry more lottery tickets
    * (w = 1 + n_chars mod 8 — integer arithmetic only, so the weight
    * derivation restates exactly in SQL), k = 100 winners by smallest
    * min-ticket. The oracle re-runs the identical ticket lottery with
    * range + md5. */
  def weightedSampleQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
      .withColumn("w", lit(1L) + (col("n_chars") % 8))
    graft.functions.Sampling.weightedSample(d, "doc_id", "w", k = 100)
      .select(col("doc_id"), col("lang"), col("w"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic weighted reservoir under the gate (q263):
    * Efraimidis–Spirakis bottom-k over documents weighted by n_chars
    * ([[graft.functions.Sampling.weightedReservoir]]) — rank =
    * hash60(doc_id) div n_chars, selection order pinned by
    * sample_rank. The sampled docs average ~355 chars vs ~284 for the
    * rejected at sf0.01, so a rank built from the wrong hash input, a
    * floor-vs-truncate slip, or an unweighted order all move rows. */
  def weightedReservoirQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.weightedReservoir(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 100)
      .select(col("sample_rank").cast("long").as("sample_rank"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("sample_rank"))

  /** Largest-remainder stratified allocation under the gate (q267):
    * budget 137 (prime — every stratum carries a nonzero remainder)
    * split across the five languages
    * ([[graft.functions.Sampling.largestRemainderSample]]). Plain
    * floors deliver 135; the two spare rows must land on en and zh by
    * remainder rank, so the apportionment arithmetic, the spare-row
    * tie order, and the md5 within-stratum pick all pin cells. */
  def largestRemainderQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.largestRemainderSample(
        docs(s, dir).select(col("doc_id"), col("lang")),
        "doc_id", "lang", budget = 137L)
      .orderBy(col("doc_id"))

  /** Top-k rank-shift report under the gate (q268): the even-doc and
    * odd-doc halves' top-25 term leaderboards diffed by
    * [[graft.operators.RankShift.rankShift]] — at sf0.01 all five
    * statuses occur (1 stable, 10 up, 10 down, 4 entered, 4 exited),
    * so the classification boundaries, the −1 missing-rank fill, and
    * the signed delta all discriminate. */
  def rankShiftQ(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir).select(col("doc_id"),
      explode(graft.functions.TextAnalysis.tokens(lower(col("text"))))
        .as("term"))
    def side(m: Int) = tok.filter(col("doc_id") % 2 === m)
      .groupBy(col("term")).agg(count(lit(1)).as("c"))
    graft.operators.RankShift.rankShift(side(0), side(1), "term", "c", 25)
  }

  /** Cluster-evolution telemetry under the gate (q269): q261's wave-1
    * assignment diffed against the wave-1+2 assignment (plus a
    * disjoint %25 family only the new side sees) through
    * [[graft.operators.Components.clusterEvolution]] — at sf0.01 the
    * report splits 175 unchanged / 25 merged / 25 grown / 20 new, so
    * every classification branch, the overlap counts, and the
    * deterministic top-source pick all pin cells. */
  def clusterEvolutionQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
    val w1 = d.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 100000L).as("b"))
      .union(d.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 100000L).as("a"),
          (col("doc_id") + 200000L).as("b")))
    val delta = d.filter(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("a"), (col("doc_id") + 3L).as("b"))
      .union(d.filter(col("doc_id") % 20 === 0)
        .select((col("doc_id") + 200000L).as("a"),
          (col("doc_id") + 100002L).as("b")))
      .union(d.filter(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 300000L).as("a"),
          (col("doc_id") + 400000L).as("b")))
    // NOTE (r21): overlapping the two CC runs on driver threads (guide
    // §2.6) was tried and probed WORSE in matched windows (4.86 s
    // sequential vs 5.60 s parallel, anchors flat) — two concurrent
    // convergence loops of tiny per-round actions contend on driver-side
    // planning instead of back-filling executor gaps; kept sequential.
    // r22: the second assignment (over w12 = w1 ∪ delta) is computed by
    // folding the delta into the FIRST assignment's star forest
    // (maintainClusters) instead of re-converging the raw w12 edge set —
    // output-identical by the star-forest replay contract (connectivity-
    // and min-id-preserving, ComponentsSpec's maintenance pin; the oracle
    // independently restates the full closure), and the standing side is
    // already star-shaped so the re-convergence takes fewer rounds. The
    // shared first assignment materializes once.
    val oldA = graft.operators.Components.connectedComponents(w1, "a", "b")
      .localCheckpoint()
    graft.operators.Components.clusterEvolution(
        oldA,
        graft.operators.Components.maintainClusters(oldA, delta, "a", "b"))
      .orderBy(col("cluster_id"))
  }

  /** Content-defined chunking under the gate (q271): every document
    * split at hash60(trailing 8-gram) % 64 == 0 boundaries
    * ([[graft.functions.Chunking.contentDefinedChunks]]), then the
    * per-source chunk dedup report — at sf0.01 dup_ppm spans 0 to
    * ~51k across the 20 sources, so the boundary predicate, the span
    * arithmetic (1-based, half-open to closed), and the distinct-hash
    * count all discriminate. */
  def cdcChunksQ(s: SparkSession, dir: String): DataFrame = {
    val chunks = graft.functions.Chunking.contentDefinedChunks(
      docs(s, dir).select(col("doc_id"), col("source"), col("text")),
      "doc_id", "text", w = 8, modulus = 64)
    graft.functions.Chunking.chunkDedupReport(
        chunks.join(docs(s, dir).select(col("doc_id"), col("source")),
          Seq("doc_id")),
        "source")
      .orderBy(col("source"))
  }

  /** Per-group weighted reservoir under the gate (q274): 20
    * n_chars-weighted docs per language
    * ([[graft.functions.Sampling.weightedReservoirByGroup]]) — the
    * q263 rank with a per-lang budget; the grouped-prefix-sum rank,
    * the per-group cutoff, and the within-group selection order all
    * pin rows. */
  def weightedReservoirByGroupQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.weightedReservoirByGroup(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        "doc_id", "lang", "n_chars", k = 20)
      .select(col("lang"), col("sample_rank").cast("long").as("sample_rank"),
        col("doc_id"), col("n_chars"))
      .orderBy(col("lang"), col("sample_rank"))

  /** Duplicate-discounted weights under the gate (q280): chain pairs
    * (d, d+1) at %5 and (d+1, d+2) at %10 give cluster sizes 1/2/3,
    * so [[graft.operators.Components.dedupWeights]] emits ppm weights
    * 10⁶ / 500000 / 333333 — every copy keeps its row, every cluster
    * contributes one unit of mass; the min-label assignment, the size
    * join, and the truncating division all pin cells. */
  def dedupWeightsQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id").cast("long").as("doc_id"))
    val pairs = d.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("a"), (col("doc_id") + 1L).as("b"))
      .union(d.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 1L).as("a"), (col("doc_id") + 2L).as("b")))
    graft.operators.Components.dedupWeights(d, "doc_id", pairs, "a", "b")
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("weight_ppm"))
      .orderBy(col("doc_id"))
  }

  /** Boilerplate strip: per-source nav/subscribe/copyright lines injected
    * into every page (plus a per-doc unique ref line) must vanish — a line
    * is boilerplate when ≥ 10 distinct docs of the SAME source carry it,
    * and every occurrence is dropped (unlike q68's keep-first line dedup).
    * The per-doc ref lines and the real text survive untouched. */
  def boilerplateQ(s: SparkSession, dir: String): DataFrame = {
    val withBoiler = docs(s, dir).select(col("doc_id"), col("source"),
      concat(
        lit("NAVIGATION MENU "), col("source"), lit("\n"),
        when(col("doc_id") % 2 === 0,
          concat(lit("SUBSCRIBE to the "), col("source"),
            lit(" newsletter\n"))).otherwise(lit("")),
        col("text"), lit("\n"),
        lit("ref "), col("doc_id").cast("string"), lit("\n"),
        lit("Copyright "), col("source"),
        lit(" - all rights reserved")).as("text"))
    graft.functions.LineDedup.stripBoilerplate(withBoiler, "doc_id", "text",
        scopeCols = Seq("source"), minDocs = 10)
      .orderBy(col("doc_id"))
  }

  /** URL canonicalization + dedup: every doc gets a messy fetch URL
    * (scheme/host case, explicit :443, trailing slash, shuffled params,
    * utm/gclid junk, fragment) whose canonical form collapses to
    * (host = id mod 7) × (item = id mod 50); the dedup keeps the lowest
    * doc_id per canonical URL with the collapse count. The oracle restates
    * the canonicalization algorithm step-for-step, not its answers. */
  def urlDedupQ(s: SparkSession, dir: String): DataFrame = {
    val messy = docs(s, dir).select(col("doc_id"),
      concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW.Example"))
          .otherwise(lit("https://www.example")),
        (col("doc_id") % 7).cast("string"), lit(".COM"),
        when(col("doc_id") % 2 === 0, lit(":443")).otherwise(lit("")),
        lit("/articles/item"), (col("doc_id") % 50).cast("string"),
        when(col("doc_id") % 3 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 2 === 0,
          lit("?b=2&a=1&utm_source=feed&gclid=XYZ"))
          .otherwise(lit("?a=1&b=2")),
        when(col("doc_id") % 5 === 0, lit("#section-2"))
          .otherwise(lit(""))).as("url"))
    graft.functions.Urls.dedupByUrl(messy, "doc_id", "url")
      .orderBy(col("canonical_url"))
  }

  /** Per-source length quantiles via the bounded mergeable quantile
    * sketch (bottom-capacity-by-hash distinct-value histogram): one
    * map-side-combining aggregation with ≤ 256 entries of partial state
    * per group — the scale path where exact `percentile()` (q52, state ∝
    * distinct values per group) stops fitting. The oracle restates the
    * FULL estimator — hash-ranked distinct-value sample, exact counts,
    * ceil(q·mass) rank — so it stays correct even when a group
    * saturates. */
  def quantileSketchQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sketches.groupQuantiles(docs(s, dir), Seq("source"),
        "n_chars", Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)),
        capacity = 256)
      .orderBy(col("source"))

  /** Hybrid retrieval via reciprocal-rank fusion: the TF-IDF
    * inverted-index channel (q85 machinery) and a character-7-shingle
    * Jaccard channel each rank the corpus against doc 0, and the two
    * top-20 lists fuse with RRF (k = 60) — the standard hybrid-search
    * combiner, integer-rank-based so the fusion arithmetic restates
    * bit-identically in SQL. Docs in only one list contribute that
    * list's term alone. Both row_number windows run over ≤ 20 rows
    * (post-TakeOrdered), never the corpus. */
  def hybridRetrievalQ(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // only (doc_id, text) feed either channel — cache the narrow frame
    val d = docs(s, dir).select(col("doc_id"), col("text")).persist()
    val corpus = d.filter(col("doc_id") =!= 0)
    val queryText = d.filter(col("doc_id") === 0)
      .select(col("text")).head().getString(0)
    val sparse = graft.functions.TermStats
      .sparseTopK(corpus, "doc_id", "text", queryText, 20)
      .withColumn("rank_tfidf", row_number().over(
        Window.orderBy(col("score_scaled").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_tfidf"))
    val qhs = d.filter(col("doc_id") === 0)
      .select(Dedup.hashedCharShingles(lower(col("text")), 7).as("qhs"))
    val dense = corpus
      .select(col("doc_id"),
        Dedup.hashedCharShingles(lower(col("text")), 7).as("hs"))
      .crossJoin(broadcast(qhs))
      .select(col("doc_id"), Dedup.jaccardSorted(col("hs"), col("qhs")).as("sim"))
      .orderBy(col("sim").desc, col("doc_id")).limit(20)
      .withColumn("rank_char", row_number().over(
        Window.orderBy(col("sim").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("rank_char"))
    // the two channels are independent corpus passes that the fused plan
    // was executing back-to-back (job profile: two ~1.4 s jobs in
    // sequence) — materialize each top-20 on its own driver thread so the
    // passes overlap (guide §2.6); ≤ 20 rows per checkpoint
    val (sparseC, denseC) = graft.operators.Concurrent.inParallel(
      sparse.localCheckpoint(), dense.localCheckpoint())
    val fused = sparseC.join(denseC, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_tfidf"), col("rank_char"),
        (coalesce(lit(1.0) / (lit(60) + col("rank_tfidf")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60) + col("rank_char")), lit(0.0)))
          .as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
      // materialize the ≤ 40 fused rows, then release the corpus cache —
      // no cache residue outlives the call (the dataCardQ discipline)
      .localCheckpoint()
    d.unpersist()
    fused
  }

  /** One DISTRIBUTED BPE-TRAINING ITERATION: segment the corpus with the
    * current vocabulary (the embedded q95 merges table) and count
    * adjacent-unit pairs — the top pair IS the next merge a BPE trainer
    * would add. Scale shape: segmentation runs once per DISTINCT alnum
    * run, not per occurrence (the run vocabulary grows far slower than
    * the corpus — the groupBy(piece) partial agg is the whole trick);
    * pair mining explodes the bounded unit sequences of those distinct
    * runs with their corpus counts, and the global top-20 is a
    * TakeOrdered. The oracle re-derives the segmentation with the q95
    * recursive CTE extended to carry (unit, prev) and emit pairs. */
  def bpeMergeCandidatesQ(s: SparkSession, dir: String): DataFrame = {
    val pieceCounts = docs(s, dir)
      .select(explode(regexp_extract_all(lower(col("text")),
        lit("[a-z0-9]+|[^a-z0-9\\s]"), lit(0))).as("piece"))
      .filter(col("piece").rlike("^[a-z0-9]")) // symbols never merge
      .groupBy(col("piece")).agg(count(lit(1)).as("cnt"))
    val pairs = pieceCounts
      .withColumn("units",
        graft.expressions.BpeSegmentsExpr.bpeSegments(col("piece")))
      .filter(size(col("units")) >= 2)
      .select(col("cnt"), explode(transform(
        sequence(lit(1), size(col("units")) - 1),
        i => struct(element_at(col("units"), i).as("unit_a"),
          element_at(col("units"), i + 1).as("unit_b")))).as("p"))
      .select(col("p.unit_a").as("unit_a"), col("p.unit_b").as("unit_b"),
        col("cnt"))
    pairs.groupBy(col("unit_a"), col("unit_b"))
      .agg(sum(col("cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("unit_a"), col("unit_b"))
      .limit(20)
  }

  /** Sketch MERGEABILITY under the gate: per-(source, corpus-half) KMV
    * sketches union via [[graft.functions.Sketches.kmvMerge]] into
    * per-source sketches whose estimates must equal sketching the whole
    * source directly — merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B), the
    * property that lets 100 TB of per-shard sketches roll up by array
    * merge alone (and snapshots merge across days without re-reading
    * either corpus). The oracle is therefore q81's WHOLE-CORPUS
    * formulation — any merge-order or trim bug breaks the hash. */
  def sketchMergeQ(s: SparkSession, dir: String): DataFrame = {
    val toks = docs(s, dir).select(col("source"),
        (col("doc_id") % 2).as("half"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .select(col("source"), col("half"),
        graft.functions.Sketches.hash60(col("term")).as("h"))
    val halves = toks.groupBy(col("source"), col("half"))
      .agg(graft.functions.Sketches.kmvSketch(col("h"), 256).as("sk"))
    halves.groupBy(col("source"))
      .agg(graft.functions.Sketches.kmvMerge(col("sk"), 256).as("sk"),
        count(lit(1)).as("n_parts"))
      .select(col("source"), col("n_parts"),
        size(col("sk")).as("sketch_size"),
        graft.functions.Sketches.kmvEstimate(col("sk"), 256)
          .as("est_distinct"))
      .orderBy(col("source"))
  }

  /** Contrastive negatives: 4 deterministic hash-ring partners per doc —
    * balanced (every doc serves as negative exactly 4 times), self-free,
    * reproducible under any partitioning, and rank-derived so the whole
    * assignment restates in SQL. The engine ranks via the distributed
    * prefix sum (window-free); the oracle may window. */
  def ringNegativesQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.ringNegatives(docs(s, dir), "doc_id", k = 4)
      .orderBy(col("anchor_id"), col("neg_idx"))

  /** Model-free text→vector→retrieval: feature-hashed 64-dim embeddings
    * (hashing trick — no trained artifact, the vector is a deterministic
    * function of the text) and exact cosine top-10 against doc 0. The
    * vectorization is one (doc, bucket) partial-agg combine + a
    * dim-bounded reassembly; the ranking is a TakeOrdered. Integer-
    * valued counts + the md5 hash seam make the vectors AND the cosine
    * ranking restate exactly in SQL. */
  def featureHashRetrievalQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"),
      TextAnalysis.tokens(lower(col("text"))).as("toks"))
    val vecs = graft.functions.FeatureHash
      .vectorize(d, "doc_id", col("toks"), dim = 64)
      .localCheckpoint() // query vector + corpus side both read it
    val q = vecs.filter(col("doc_id") === 0).select(col("vec").as("qvec"))
    vecs.filter(col("doc_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("doc_id"),
        graft.functions.FeatureHash.cosine(col("vec"), col("qvec"))
          .as("cosine_sim"))
      .filter(col("cosine_sim").isNotNull)
      .orderBy(col("cosine_sim").desc, col("doc_id"))
      .limit(10)
  }

  /** Square-root budget allocation across languages: 300 docs split
    * k_s = ⌊300·⌊√n_s⌋/Σ⌊√n⌋⌋ — the head-damping rebalance policy
    * between proportional and uniform. Pure integer allocation
    * arithmetic + the stable md5 pick, restated verbatim in SQL. */
  def sqrtAllocationQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.sqrtAllocatedSample(
        docs(s, dir), "doc_id", "lang", budget = 300L)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  /** Fuzzy (Levenshtein ≤ 1) record-linkage pairs over deterministic
    * typo'd entity names: each doc gets a name from a 40-entity vocabulary
    * and a doc_id-derived perturbation (delete last char / append /
    * substitute first char / unchanged). The engine runs the
    * deletion-neighborhood (SymSpell) blocking of
    * [[graft.functions.FuzzyDedup]] — complete for d ≤ 1, spec-pinned —
    * while the oracle is the EXHAUSTIVE all-pairs levenshtein join, so any
    * blocking miss breaks the hash. maxBucket is raised far above the
    * densest variant bucket at every tested SF so the degenerate-bucket cap
    * can never diverge from the exhaustive oracle (the q100 ADVICE lesson).
    * The pair set itself grows quadratically with the corpus (the typo
    * vocabulary is fixed at 40 entities), so the query emits a per-distance
    * FINGERPRINT — pair count plus id sums and the id-product sum — rather
    * than the raw pairs: any missing or extra pair still breaks the hash,
    * but the output stays a handful of rows at every SF. */
  /** Deterministic typo'd entity names shared by the record-linkage
    * queries (q122/q123): a 40-entity vocabulary with a doc_id-derived
    * perturbation (delete last char / append / substitute first char /
    * unchanged), restated verbatim in both oracles. */
  private def typoNames(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat(lit("entity "), (col("doc_id") % 40).cast("string")).as("b"))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1,
          expr("substring(b, 1, length(b) - 1)"))
        .when(col("doc_id") % 5 === 2, concat(col("b"), lit("x")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("x"), expr("substring(b, 2, length(b))")))
        .otherwise(col("b")).as("name"))

  def fuzzyPairsQ(s: SparkSession, dir: String): DataFrame = {
    val names = typoNames(s, dir)
    // variant-bucket sizes grow LINEARLY with the corpus here (dense
    // 40-entity vocabulary: every entity's rows share variant hashes), so
    // a fixed cap would silently drop true pairs at a larger SF and break
    // the exhaustive oracle. Derive the cap from the row count with ~13×
    // headroom over the worst observed bucket (~n/40 rows per entity);
    // the count() is one metadata-cheap parquet job.
    val cap = math.min(math.max(4096L, 32L * (names.count() / 40 + 1)),
      Int.MaxValue.toLong).toInt
    graft.functions.FuzzyDedup.nearDupPairs(names,
        "doc_id", "name", maxBucket = cap)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a")).as("sum_a"),
        sum(col("id_b")).as("sum_b"),
        sum(col("id_a") * col("id_b")).as("sum_ab"))
      .orderBy(col("dist"))
  }

  /** The q122 typo construction over a 199-entity vocabulary of
    * md5-DERIVED tokens ("e" + 6 hex chars) — unlike the q122 names
    * ("entity 5" / "entity 6" are themselves lev-1 neighbors, so that
    * corpus deliberately fuses into dense near-cliques), random hex
    * tokens sit ≥ 3 edits apart, so clusters stay entity-sized and
    * SPARSE, the shape a real near-dup graph has — and the q125 oracle's
    * recursive-CTE closure stays linear-ish at every SF. The modulus is
    * PRIME (and in particular coprime to the 5 perturbation classes):
    * with a multiple of 5, every doc of one entity would draw the same
    * perturbation and the corpus would degenerate to exact clones. */
  private[queries] def typoNamesSparse(s: SparkSession, dir: String): DataFrame =
    typoNamesSparse2(s, docs(s, dir))

  /** Dedup PROVENANCE over the sparse typo corpus — the audit trail a
    * dropped document carries: its keeper, whether the drop was an exact
    * or a fuzzy match, and the edit distance. The oracle recomputes the
    * whole report from the exhaustive lev ≤ 1 pair set (the deletion-
    * neighborhood blocking is complete for d ≤ 1), so a wrong keeper,
    * reason, or missing/extra dropped row breaks the hash. */
  def provenanceQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.FuzzyDedup.provenance(typoNamesSparse(s, dir),
        "doc_id", "name")
      .orderBy(col("doc_id"))

  /** CDC patch ROUND TRIP over the q82 snapshot pair: cut the minimal
    * added/changed/removed patch, replay it onto the old snapshot, and
    * emit the applied table with each row's delivery channel ('carried'
    * for untouched old rows, 'patched' for rows the patch re-delivered).
    * The oracle reconstructs both snapshots and states the applied table
    * WITH the channel directly — a non-minimal patch (unchanged rows
    * riding along) flips carried rows to patched and breaks the hash, as
    * does any divergence from the new snapshot. */
  def snapshotPatchQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // old + new + patch branches
    val oldSnap = d.select(col("doc_id"), col("text"))
    val newSnap = d.filter(col("doc_id") % 7 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionByName(d.filter(col("doc_id") < 50)
        .select((col("doc_id") + 200000).as("doc_id"), col("text")))
    val p = graft.operators.SnapshotDiff.patch(oldSnap, newSnap, "doc_id",
      Seq("text"), payloadCols = Seq("text"))
    val applied = graft.operators.SnapshotDiff
      .applyPatch(oldSnap, p, "doc_id", Seq("text"))
    releasing(d) {
      applied
        .join(p.select(col("doc_id"), lit("patched").as("via")),
          Seq("doc_id"), "left")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          coalesce(col("via"), lit("carried")).as("via"))
        .orderBy(col("doc_id"))
    }
  }

  /** Quality-weighted canonical selection over the fuzzy clusters: each
    * lev ≤ 1 name cluster keeps its LONGEST document (ties to the
    * smallest id) as canonical — min-id dedup keeps whichever duplicate
    * arrived first, curation keeps the best version. Clusters via the
    * q125 components machinery; the oracle recomputes them with the
    * recursive CTE and states the per-cluster argmax. */
  def canonicalSelectionQ(s: SparkSession, dir: String): DataFrame = {
    // pruned persist: only (doc_id, n_chars) feed the branches — caching
    // the text column here would be pure block-manager waste
    val d = docs(s, dir).select(col("doc_id"), col("n_chars")).persist()
    val named = typoNamesSparse2(s, d)
    val pairs = graft.functions.FuzzyDedup.nearDupPairs(named,
      "doc_id", "name", maxBucket = 1 << 16)
    // representatives() consumes its input twice (best-per-cluster agg +
    // the join back); materialize the cluster-labeled frame once so the
    // name-derivation joins don't re-execute per reference
    val clustered = graft.operators.Components.assignClusters(
        named.join(d.select(col("doc_id"), col("n_chars")), "doc_id"),
        "doc_id", pairs, "id_a", "id_b")
      .localCheckpoint()
    releasing(d) {
      graft.operators.Components.representatives(clustered, "doc_id",
          "n_chars")
        .select(col("doc_id"), col("cluster_id"), col("n_chars"),
          col("is_canonical"))
        .orderBy(col("doc_id"))
    }
  }

  /** [[typoNamesSparse]] over an already-loaded docs frame (so a caller
    * can persist ONE scan across the name and payload branches). */
  private def typoNamesSparse2(s: SparkSession,
                               d: DataFrame): DataFrame =
    d.select(col("doc_id"),
        concat(lit("e"),
          substring(md5((col("doc_id") % 199).cast("string")), 1, 6)).as("b"))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1,
          expr("substring(b, 1, length(b) - 1)"))
        .when(col("doc_id") % 5 === 2, concat(col("b"), lit("x")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("x"), expr("substring(b, 2, length(b))")))
        .otherwise(col("b")).as("name"))

  /** Leakage-safe split over the sparse typo corpus: fuzzy near-dup
    * pairs → connected components (the q56 machinery) → md5 cut of the
    * CLUSTER id, so every typo variant of an entity lands in one split —
    * the constructive fix for what q100 audits. The oracle recomputes
    * the components with a recursive CTE over the exhaustive lev ≤ 1
    * pair set and restates the md5 cut verbatim on the cluster id. */
  def clusterSafeSplitQ(s: SparkSession, dir: String): DataFrame = {
    val named = typoNamesSparse(s, dir)
    val pairs = graft.functions.FuzzyDedup.nearDupPairs(named,
      "doc_id", "name", maxBucket = 1 << 16)
    graft.functions.Sampling.clusterSafeSplit(named, "doc_id", pairs,
        "id_a", "id_b", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select(col("doc_id"), col("cluster_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  /** The depth-2 SymSpell blocking under the oracle gate: the SPARSE
    * typo corpus, pairs up to Levenshtein distance 2 — the distance
    * class that catches delete-vs-append siblings of one entity (d=2
    * from each other though d=1 from their base). Sparse rather than the
    * q122 corpus because at depth 2 the "entity N" names' own lev-1
    * adjacency makes nearly every pair a candidate — a corpus-sized
    * quadratic pair set is a stress test of nothing but patience; hex
    * tokens keep depth-2's REAL work (within-entity variant pairing)
    * while the pair set stays entity-local. The oracle is the exhaustive
    * all-pairs lev ≤ 2 join, so a single blocking miss at depth 2 breaks
    * the hash; output is the per-distance fingerprint. */
  def fuzzyPairsD2Q(s: SparkSession, dir: String): DataFrame =
    graft.functions.FuzzyDedup.nearDupPairs(typoNamesSparse(s, dir),
        "doc_id", "name", maxBucket = 1 << 16, maxDist = 2)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a")).as("sum_a"),
        sum(col("id_b")).as("sum_b"),
        sum(col("id_a") * col("id_b")).as("sum_ab"))
      .orderBy(col("dist"))

  /** The bipartite fuzzy probe under the oracle gate: even doc_ids play
    * the standing corpus, odd doc_ids the incoming batch, and the engine
    * must find exactly the cross-side lev ≤ 1 pairs — the oracle is the
    * exhaustive bipartite join, so a within-side leak (extra pairs) or a
    * blocking miss (missing pairs) both break the hash. Per-distance
    * fingerprint output, O(1) rows at every SF. */
  def fuzzyIncrementalQ(s: SparkSession, dir: String): DataFrame = {
    val named = typoNamesSparse(s, dir)
    graft.functions.FuzzyDedup.crossNearDupPairs(
        named.filter(col("doc_id") % 2 === 0),
        named.filter(col("doc_id") % 2 === 1),
        "doc_id", "name", maxBucket = 1 << 16)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("corpus_id")).as("sum_corpus"),
        sum(col("batch_id")).as("sum_batch"),
        sum(col("corpus_id") * col("batch_id")).as("sum_cross"))
      .orderBy(col("dist"))
  }

  /** Deterministic token-sequence titles for q131: a 4-word base drawn
    * from small per-position vocabularies, with a doc_id-derived edit
    * (drop 2nd word / append / substitute 1st), restated verbatim as
    * DuckDB list expressions. */
  private def titleTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), (col("doc_id") % 199).as("e"))
      .select(col("doc_id"), col("e"), array(
        concat(lit("w"), (col("e") % 13).cast("string")),
        concat(lit("w"), (col("e") % 17).cast("string")),
        concat(lit("w"), (col("e") % 19).cast("string")),
        concat(lit("w"), (col("e") % 23).cast("string"))).as("b"))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1,
          array(element_at(col("b"), 1), element_at(col("b"), 3),
            element_at(col("b"), 4)))
        .when(col("doc_id") % 5 === 2,
          concat(col("b"), array(lit("zz"))))
        .when(col("doc_id") % 5 === 3,
          concat(array(concat(lit("q"), (col("e") % 11).cast("string"))),
            slice(col("b"), 2, 3)))
        .otherwise(col("b")).as("toks"))

  /** Token-level near-dup under the oracle gate: titles within token
    * edit distance 1 (word dropped / appended / substituted) found by
    * token-deletion-variant blocking, verified with the prefix+suffix
    * cover identity — the oracle recomputes the EXHAUSTIVE all-pairs
    * predicate with DuckDB list functions, so a blocking miss or a
    * verification divergence both break the hash. */
  def tokenFuzzyQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.FuzzyDedup.tokenNearDupPairs(titleTokens(s, dir),
        "doc_id", "toks", maxBucket = 1 << 16)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a")).as("sum_a"),
        sum(col("id_b")).as("sum_b"),
        sum(col("id_a") * col("id_b")).as("sum_ab"))
      .orderBy(col("dist"))

  /** The bipartite token probe under the oracle gate: q127's even/odd
    * corpus-vs-batch split at TITLE granularity — cross-side token-lev
    * ≤ 1 pairs only, per-distance fingerprint. */
  def crossTokenFuzzyQ(s: SparkSession, dir: String): DataFrame = {
    val titled = titleTokens(s, dir)
    graft.functions.FuzzyDedup.crossTokenNearDupPairs(
        titled.filter(col("doc_id") % 2 === 0),
        titled.filter(col("doc_id") % 2 === 1),
        "doc_id", "toks", maxBucket = 1 << 16)
      .groupBy(col("dist"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("corpus_id")).as("sum_corpus"),
        sum(col("batch_id")).as("sum_batch"),
        sum(col("corpus_id") * col("batch_id")).as("sum_cross"))
      .orderBy(col("dist"))
  }

  /** Golden-record consolidation: fuzzy pairs → connected components →
    * ONE canonical row per entity cluster (master-data dedup, the thing
    * a warehouse merge ultimately serves): cluster id, canonical name
    * (deterministic min), member count, id fingerprint. The oracle
    * recomputes the closure with the q125 recursive CTE and aggregates
    * per cluster. */
  def goldenRecordsQ(s: SparkSession, dir: String): DataFrame = {
    val named = typoNamesSparse(s, dir)
    val pairs = graft.functions.FuzzyDedup.nearDupPairs(named,
      "doc_id", "name", maxBucket = 1 << 16)
    graft.operators.Components.assignClusters(named, "doc_id", pairs,
        "id_a", "id_b")
      .groupBy(col("cluster_id"))
      .agg(min(col("name")).as("canonical_name"),
        count(lit(1)).as("n_members"),
        sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("cluster_id"))
  }

  /** Linkage blocking-quality card: the report a team reads before
    * trusting a blocking setup — per-pass verified pair counts (sorted-
    * neighborhood vs deletion-neighborhood at the same score threshold),
    * their intersection, and their union, each with id-sum fingerprints.
    * A pass whose count collapses, or an intersection near the union
    * (the second pass adds nothing), is the signal to retune. Both
    * passes and all four set algebra rows restate in SQL. */
  def linkageCardQ(s: SparkSession, dir: String): DataFrame = {
    val named = typoNamesSparse(s, dir)
    val theta = 0.84
    // each pass's pair set is consumed THREE times below (its own row,
    // the intersection, the union) — without materialization the whole
    // blocking+verification DAG re-executes per reference. The two legs
    // are independent, so they checkpoint concurrently (guide §2.6).
    val (sn, dn) = graft.operators.Concurrent.inParallel(
      graft.functions.Linkage.sortedNeighborhoodPairs(
          named, "doc_id", "name", window = 5, minScore = theta)
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"))
        .distinct()
        .localCheckpoint(),
      graft.functions.FuzzyDedup.nearDupPairs(named,
          "doc_id", "name", maxBucket = 1 << 16)
        .join(named.select(col("doc_id").as("id_a"), col("name").as("_na")),
          Seq("id_a"))
        .join(named.select(col("doc_id").as("id_b"), col("name").as("_nb")),
          Seq("id_b"))
        .filter(graft.expressions.JaroWinklerExpr
          .jaroWinkler(col("_na"), col("_nb")) >= theta)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint())
    val both = sn.join(dn, Seq("id_a", "id_b"), "left_semi")
    val all = sn.unionByName(dn).distinct()
    def row(tag: String, df: DataFrame) = df.agg(
        count(lit(1)).as("n_pairs"),
        coalesce(sum(col("id_a")), lit(0L)).as("sum_a"),
        coalesce(sum(col("id_b")), lit(0L)).as("sum_b"))
      .select(lit(tag).as("pass"), col("n_pairs"), col("sum_a"),
        col("sum_b"))
    row("deletion_neighborhood", dn)
      .unionByName(row("intersection", both))
      .unionByName(row("sorted_neighborhood", sn))
      .unionByName(row("union", all))
      .orderBy(col("pass"))
  }

  /** The TWO-PASS linkage union under the oracle gate: sorted-neighborhood
    * candidates ∪ deletion-neighborhood (lev ≤ 1) candidates, each
    * unordered pair scored once with the native Jaro-Winkler and
    * thresholded — the production shape that covers the sort pass's
    * leading-character blind spot (the x-prefixed perturbation class in
    * this corpus sorts an entity's variants far apart; the d ≤ 1 pass
    * recovers them). The oracle restates BOTH candidate branches (the
    * rank-band self-join and the exhaustive lev ≤ 1 join — valid because
    * deletion-neighborhood blocking is complete for d ≤ 1, spec-pinned)
    * and unions them with SQL UNION's dedup semantics, mirroring the
    * engine's distinct(). */
  def linkageUnionQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Linkage.linkagePairs(typoNamesSparse(s, dir),
        "doc_id", "name", window = 5, minScore = 0.84, maxBucket = 1 << 16)
      .groupBy(col("jw_score"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a")).as("sum_a"),
        sum(col("id_b")).as("sum_b"))
      .orderBy(col("jw_score"))

  /** Sorted-neighborhood record linkage scored with the native
    * Jaro-Winkler expression (the scoring function Spark lacks; DuckDB's
    * `jaro_winkler_similarity` is the oracle — the kernel was fuzz-pinned
    * bit-exact against it over 50k ASCII pairs, so the query can GROUP BY
    * the raw double score; on non-ASCII text the engines diverge — DuckDB
    * compares UTF-8 bytes where this kernel compares UTF-16 code units,
    * see JaroWinklerExpr's scaladoc — and all gated corpora are ASCII). The engine ranks via the distributed packShards
    * prefix sum (one range exchange + broadcast offsets — never a global
    * window) and pairs neighbors with a pure equi-join on exploded
    * successor ranks; the oracle restates the same windowed semantics
    * with `row_number() OVER (ORDER BY name, doc_id)` and a rank-band
    * self-join. Output is the per-score fingerprint (count + id sums), so
    * any membership or score difference breaks the hash while the row
    * count stays O(#distinct scores) at every SF. */
  def sortedNeighborhoodQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Linkage.sortedNeighborhoodPairs(typoNames(s, dir),
        "doc_id", "name", window = 5, minScore = 0.84)
      .groupBy(col("jw_score"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a")).as("sum_a"),
        sum(col("id_b")).as("sum_b"))
      .orderBy(col("jw_score"))

  /** Accented-name corpus: the typoNames construction with MULTIBYTE
    * characters (é/ü/ø), so UTF-8 byte semantics and UTF-16 code-unit
    * semantics genuinely diverge — the corpus that separates the
    * byte-mode Jaro-Winkler kernel from the char kernel. Built from
    * operations with identical Spark/DuckDB semantics (char-based
    * `substring`/`length`, `%` on non-negative ids). */
  private def accentNames(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        concat(lit("café münchén "), (col("doc_id") % 37).cast("string"))
          .as("b"))
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 1,
          expr("substring(b, 1, length(b) - 1)"))
        .when(col("doc_id") % 5 === 2, concat(col("b"), lit("é")))
        .when(col("doc_id") % 5 === 3,
          concat(lit("ø"), expr("substring(b, 2, length(b))")))
        .otherwise(col("b")).as("name"))

  /** Byte-mode Jaro-Winkler under the gate on NON-ASCII text: successive
    * accented names scored with the UTF-8 byte kernel, whose scores are
    * bit-exact against DuckDB's byte-comparing `jaro_winkler_similarity`
    * even where byte length != char length (the char kernel diverges on
    * every 'é'-perturbed pair here — the ADVICE-flagged caveat, now a
    * gated parity surface instead of a doc qualifier). */
  def byteJaroWinklerQ(s: SparkSession, dir: String): DataFrame = {
    val n = accentNames(s, dir)
    val a = n.select(col("doc_id"), col("name").as("name_a"))
    val b = n.select((col("doc_id") - 1).as("doc_id"),
      col("name").as("name_b"))
    a.join(b, "doc_id")
      .select(col("doc_id"),
        graft.expressions.JaroWinklerExpr
          .jaroWinklerBytes(col("name_a"), col("name_b")).as("jw_byte"))
      .orderBy(col("doc_id"))
  }

  /** Per-language perplexity pruning — the CCNet-style curation gate:
    * keep each language's cleanest 70% by unigram-LM bits-per-token.
    * Composition: the q75 surprisal machinery scores every doc (integer
    * sum_bits), the score is fixed-point scaled (×2^20, INTEGER division
    * — exact in both engines, no double-division ordering hazard), and
    * [[graft.functions.Sampling.pruneByScore]] cuts at
    * floor(0.7 · n_lang) per language through the distributed
    * groupedPrefixSum rank (range exchange + broadcast offsets — never a
    * PARTITION BY lang window, which would funnel a dominant language
    * onto one task). */
  def perplexityPruneQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).persist() // surprisal model + lang join branches
    val scored = graft.functions.LangModel
      .surprisalReport(d, "doc_id", "text")
      .join(d.select(col("doc_id"), col("lang")), "doc_id")
      .withColumn("score_fx",
        expr("(sum_bits * 1048576) div greatest(n_tokens, 1)"))
    releasing(d) {
      graft.functions.Sampling.pruneByScore(scored, "doc_id", "lang",
          "score_fx", keepFrac = 0.7)
        .select(col("doc_id"), col("lang"), col("score_fx"))
        .orderBy(col("doc_id"))
    }
  }

  /** HLL register files under the gate: per-source HyperLogLog registers
    * (p = 6, m = 64) over corpus tokens on the md5 hash60 seam, PLUS the
    * merged corpus-wide file via [[graft.functions.Sketches.hllMerge]]
    * tagged source `__all__` — so both the sketch aggregate and the
    * element-wise-max union path sit under the oracle. The oracle
    * restates every register from the raw hashes (`bucket = h // 2^54`,
    * `ρ = 55 − bitlength(h mod 2^54)`, max per bucket, unseen buckets
    * 0). One bounded-state aggregation per branch; output is m rows per
    * source — constant at every SF. */
  def hllRegistersQ(s: SparkSession, dir: String): DataFrame = {
    val hashed = docs(s, dir)
      .select(col("source"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .select(col("source"),
        graft.functions.Sketches.hash60(col("term")).as("_h"))
    // one register file per source: a TINY frame (|sources| rows of m
    // ints) — pin it eagerly, both branches read it
    val perSource = hashed.groupBy(col("source"))
      .agg(graft.functions.Sketches.hllSketch(col("_h"), 6).as("_regs"))
      .localCheckpoint()
    val merged = perSource
      .agg(graft.functions.Sketches.hllMerge(col("_regs"), 6).as("_regs"))
      .select(lit("__all__").as("source"), col("_regs"))
    perSource.unionByName(merged)
      .select(col("source"),
        posexplode(col("_regs")).as(Seq("bucket", "register")))
      .select(col("source"), col("bucket").cast("long").as("bucket"),
        col("register").cast("long").as("register"))
      .orderBy(col("source"), col("bucket"))
  }

  /** Product-quantization codes under the gate: every embedding encoded
    * to 8 subspace codes against sample-init codebooks (iters = 0 — the
    * fully SQL-restatable trainer state; production trains iters > 0 and
    * PqSpec pins that path against a driver reference). Codes are pure
    * integers — argmin with the lowest-index tie-break over the same
    * ascending sequential squared-distance accumulation the oracle's
    * `list_sum(list_transform(...))` computes — so the hash compare has
    * no double-output hazard. */
  def pqCodesQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val cbs = Similarity.pqCodebooks(e, "embedding", "vec_id",
      m = 8, ksub = 16, iters = 0)
    // materialize codes before the explode — see ivfPqCodesQ's note on
    // posexplode re-evaluating an inlined HOF generator input
    e.select(col("vec_id"),
        Similarity.pqEncode(col("embedding"), cbs).as("codes"))
      .localCheckpoint()
      .select(col("vec_id"),
        posexplode(col("codes")).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** PQ asymmetric-distance top-k under the gate: "20 nearest to doc 0"
    * where the corpus is ONLY its 8 codes per vector and the distance is
    * 8 LUT reads + 7 adds (the billion-scale ANN serving shape; the
    * exact query never meets a corpus float). Distances are doubles but
    * every accumulation chain — the LUT entries (ascending dims) and the
    * subspace sum (ascending s) — restates as DuckDB's sequential
    * `list_sum`, so the raw doubles hash-compare. */
  def pqAdcQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val cbs = Similarity.pqCodebooks(e, "embedding", "vec_id",
      m = 8, ksub = 16, iters = 0)
    val q = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    Similarity.pqAdcTopK(e, "embedding", "vec_id", q, cbs, k = 20)
  }

  /** IVF-PQ residual codes under the gate (the FAISS IVFPQ layout):
    * coarse cell (k = 8, sample-init) + 8 residual-subspace codes per
    * vector, all integers. The oracle restates the coarse assignment
    * (argmin over the 8 lowest-id rows, ties → lowest cell), the
    * residual lists, the residual codebook (residuals of the 16
    * lowest-id rows), and the per-subspace argmin — every chain
    * sequential. Trained (iters > 0) paths are PqSpec-pinned. */
  def ivfPqCodesQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      e, "embedding", "vec_id", k = 8, iters = 0)
    val cbs = Similarity.ivfPqCodebooks(e, "embedding", "vec_id",
      coarse, m = 8, ksub = 16, iters = 0)
    // materialize the encoded index BEFORE exploding: posexplode pulls
    // the generator input into Generate, and the interpreted HOF chain
    // then re-evaluates per output position (probed 76s -> 2s at sf0.1).
    // A real pipeline persists the index anyway — the explode is the
    // audit view of stored codes, not a recompute.
    Similarity.ivfPqEncode(e.select(col("vec_id"), col("embedding")),
        "embedding", coarse, cbs)
      .select(col("vec_id"), col("pq_cell"), col("pq_codes"))
      .localCheckpoint()
      .select(col("vec_id"), col("pq_cell").cast("long").as("cell"),
        posexplode(col("pq_codes")).as(Seq("subspace", "code")))
      .select(col("vec_id"), col("cell"),
        col("subspace").cast("long").as("subspace"),
        col("code").cast("long").as("code"))
      .orderBy(col("vec_id"), col("subspace"))
  }

  /** NFC-normalized exact dedup under the gate: every doc appears twice
    * — once with a COMPOSED accent suffix (" caf" + U+00E9), once with
    * the DECOMPOSED form (" cafe" + combining U+0301). The byte strings
    * differ, so raw fingerprints see two documents; after
    * [[graft.expressions.NfcNormalizeExpr]] they are identical and the
    * min-id exact-dup rule drops every clone — the normalize-before-hash
    * discipline every multi-crawl dedup pipeline needs (DuckDB's
    * `nfc_normalize` is the oracle; the JDK normalizer must agree
    * byte-for-byte). */
  def nfcDedupQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val corpus = d.select(col("doc_id"),
        concat(col("text"), lit(" café")).as("text"))
      .unionByName(d.select((col("doc_id") + 100000).as("doc_id"),
        concat(col("text"), lit(" café")).as("text")))
    val fp = corpus.select(col("doc_id"),
      md5(graft.expressions.NfcNormalizeExpr.nfcNormalize(col("text")))
        .as("fp"))
    val keepers = fp.groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
    fp.join(keepers, "fp")
      .select(col("doc_id"), (col("doc_id") === col("keeper")).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** Curriculum binning under the gate: the corpus splits into 4
    * difficulty buckets by length through the DISTRIBUTED score-quantile
    * rank ([[graft.functions.Sharding.ntileByScore]] — range exchange +
    * broadcast offsets, never the single-partition global window Spark's
    * own `ntile` forces). The even-spread bin formula restates as one
    * integer expression in the oracle. */
  def scoreNtileQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sharding.ntileByScore(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", k = 4)
      .select(col("doc_id"), col("n_chars"), col("bin"))
      .orderBy(col("doc_id"))

  /** IVF-PQ serving path under the gate: "10 nearest to doc 0" where
    * the probe touches only the 4 nearest coarse cells and every score
    * is per-cell residual-ADC over stored codes (the q141 index; the
    * corpus floats are never read at query time). Distances are doubles
    * but every chain — residual LUTs (ascending dims) and the subspace
    * sum (ascending s) — restates as DuckDB's sequential list_sum. */
  def ivfPqTopKQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      e, "embedding", "vec_id", k = 8, iters = 0)
    val cbs = Similarity.ivfPqCodebooks(e, "embedding", "vec_id",
      coarse, m = 8, ksub = 16, iters = 0)
    val q = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    Similarity.ivfPqTopK(e, "embedding", "vec_id", q, coarse, cbs,
      k = 10, nProbe = 4)
  }

  /** BATCHED IVF-PQ serving under the gate (q166): a query FRAME (every
    * 199th vector) joins the stored-code index cell-wise through
    * [[graft.functions.Similarity.ivfPqTopKBatch]] — per-query probe
    * cells and residual-ADC LUTs computed IN THE PLAN (no per-query
    * driver loop; the single-vector q147 path is the online special
    * case), one index read serving every query. The oracle is the q147
    * restatement generalized per-qid: probe, LUT, and top-k all keyed
    * by the query id. A wrong LUT for any query, a cross-query leak, or
    * per-query truncation drift breaks the hash. */
  /** The shared q166/q167 IVF-PQ fixture: corpus, trained coarse
    * quantizer + codebooks, the encoded index, and the query frame.
    * ONE definition — q167 is specified as "the q166 serving run plus
    * ground truth", so a parameter tweak can't silently decouple the
    * two gates. */
  private def ivfPqFixture(s: SparkSession, dir: String)
      : (DataFrame, Seq[Seq[Double]], Seq[Seq[Seq[Double]]], DataFrame,
         DataFrame) = {
    val e = Tables.load(s, dir, "embeddings")
    val coarse = Similarity.ivfCentroidsTrainedPortable(
      e, "embedding", "vec_id", k = 8, iters = 0)
    val cbs = Similarity.ivfPqCodebooks(e, "embedding", "vec_id",
      coarse, m = 8, ksub = 16, iters = 0)
    val idx = Similarity.ivfPqEncode(
        e.select(col("vec_id"), col("embedding")), "embedding", coarse,
        cbs, cellCol = "cell", codesCol = "codes")
      .select(col("vec_id"), col("cell"), col("codes"))
    val qs = e.filter(col("vec_id") % 199 === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    (e, coarse, cbs, idx, qs)
  }

  def ivfPqBatchQ(s: SparkSession, dir: String): DataFrame = {
    val (_, coarse, cbs, idx, qs) = ivfPqFixture(s, dir)
    Similarity.ivfPqTopKBatch(qs, "qid", "embedding", idx, "vec_id",
        "cell", "codes", coarse, cbs, k = 10, nProbe = 4)
      .orderBy(col("qid"), col("adc_dist"), col("vec_id"))
  }

  /** Index DELETION under the gate (q179): every 7th vector tombstones
    * out of the stored IVF-PQ index through
    * [[graft.functions.Similarity.indexDelete]] (one anti-join; the
    * trained coarse/codebook artifacts are untouched), then the q147
    * "nearest to vec 0" serve runs over what remains — and since vec 0
    * itself is deleted, its self-match must vanish from the top-k. The
    * oracle is the q147 chain with the membership filter; a row that
    * survives deletion, a lost live row, or any ADC drift breaks the
    * hash. */
  def indexDeleteQ(s: SparkSession, dir: String): DataFrame = {
    val (e, coarse, cbs, idx, _) = ivfPqFixture(s, dir)
    val tombstones = e.filter(col("vec_id") % 7 === 0).select(col("vec_id"))
    val kept = Similarity.indexDelete(idx, "vec_id", tombstones, "vec_id")
    val q1 = e.filter(col("vec_id") === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
    Similarity.ivfPqTopKBatch(q1, "qid", "embedding", kept, "vec_id",
        "cell", "codes", coarse, cbs, k = 10, nProbe = 4)
      .select(col("vec_id"), col("adc_dist"))
      .orderBy(col("adc_dist"), col("vec_id"))
  }

  /** IVF-PQ index MAINTENANCE under the gate (q282): the corpus splits
    * into a standing base (4/5 of vectors) and a daily wave (every 5th
    * vector); the wave encodes against the FROZEN coarse/codebook
    * artifacts and folds into the stored index + per-cell counts
    * through [[graft.functions.Similarity.ivfPqMaintain]], and the
    * report joins the q147 "nearest to vec 0" serve (run over the
    * MAINTAINED index) with each hit cell's
    * [[graft.functions.Similarity.ivfPqCellBalance]] row at the 21/20
    * uniform-ratio fence (splits 5/3 at sf0.01). The maintained index
    * serves row-identically to a one-shot re-encode and the folded
    * counts equal a fresh recount — PqSpec's pins; the oracle restates
    * the whole chain (assignment, residual codes, probe, ADC, counts,
    * cross-multiplied fence), so a dropped wave row, a double-encoded
    * vector, or count drift still fails the gate. */
  def ivfPqMaintainQ(s: SparkSession, dir: String): DataFrame = {
    val (e, coarse, cbs, _, _) = ivfPqFixture(s, dir)
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val wave = e.filter(col("vec_id") % 5 === 0)
    val idx0 = Similarity.ivfPqEncode(
        base.select(col("vec_id"), col("embedding")), "embedding", coarse,
        cbs, cellCol = "cell", codesCol = "codes")
      .select(col("vec_id"), col("cell"), col("codes"))
    val counts0 = Similarity.ivfPqCellCounts(idx0, "cell")
    val (idx1, counts1) = Similarity.ivfPqMaintain(idx0, counts0, wave,
      "vec_id", "embedding", "cell", "codes", coarse, cbs)
    val idxM = idx1.localCheckpoint() // serve + cell join read it
    // folded counts ≡ recount and maintained ≡ one-shot-rebuild serving
    // are PqSpec's pins (same planted geometry at spec scale); the
    // oracle restates the full maintained chain, so the gate no longer
    // recounts the index or rebuilds-and-serves a second index per
    // bench run
    val q = e.filter(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    Similarity.ivfPqTopKFromIndex(
        idxM, "vec_id", "cell", "codes", q, coarse, cbs, k = 10, nProbe = 4)
      .join(idxM.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(Similarity.ivfPqCellBalance(counts1, "cell",
        tNum = 21L, tDen = 20L), Seq("cell"))
      .select(col("vec_id"), col("adc_dist"), col("cell").cast("long")
          .as("cell"), col("n_vecs"), col("n_cells"), col("total_vecs"),
        col("skew_ppm"), col("rebalance"))
      .orderBy(col("adc_dist"), col("vec_id"))
  }

  /** The q294 synthetic clustered embedding frame: 4 well-separated
    * clusters (`vec_id % 4`, centers 100 apart per dim), the planted
    * hot cluster 3 bimodal (ids ≡ 7 mod 8 carry a +10 lobe offset),
    * per-(id, dim) jitter `((id·37 + i·101) mod 19) / 16` — every
    * value exactly float-representable, so the DuckDB oracle restates
    * vectors, distances, and codes bit-for-bit at any SF. */
  private def rebalanceSynth(ids: DataFrame): DataFrame =
    ids.withColumn("embedding",
      transform(sequence(lit(1), lit(8)), i =>
        ((col("vec_id") % 4).cast("double") * 100.0
          + when(col("vec_id") % 8 === 7, 10.0).otherwise(0.0)
          + pmod(col("vec_id") * 37 + i * 101, lit(19)).cast("double")
            / 16.0).cast("float")))

  /** IVF-PQ rebalance EXECUTION under the gate (q294): q282's fence
    * *detects* a hot cell; this gate *acts* on it through
    * [[graft.functions.Similarity.ivfPqRebalance]] — the flagged cell
    * splits on sub-centroids trained (bounded-sample portable Lloyd)
    * on ONLY its own vectors, only its rows re-encode against the
    * frozen codebooks, and the spliced index is row-identical to a
    * FULL re-encode against the post-split coarse list, with every
    * untouched cell's code rows byte-identical to the pre-rebalance
    * index — both PqSpec pins, restated from scratch by the oracle —
    * and the fence QUIET afterwards (required in-gate — the split
    * actually fixed the skew). The corpus is the planted [[rebalanceSynth]]
    * fixture: base wave balances 4 cells, a cluster-3 clone wave
    * (ids + 10⁷ ≡ same cluster and lobe mod 4/8) doubles cell 4 and
    * trips the 21/20 fence, and the split lands exactly on the two
    * planted lobes. Output: the q282-shaped serve + balance report
    * over the REBALANCED index for a lobe-1 query; the oracle restates
    * the entire post-split chain (synthetic vectors, split centroid
    * table, residual codes, probe, ADC, counts, fence) from scratch. */
  def ivfPqRebalanceQ(s: SparkSession, dir: String): DataFrame = {
    val bigN = 1 << 20 // sample bound >> any SF's rows: training is
                       // exhaustive and id-deterministic at every SF
    val e = Tables.load(s, dir, "embeddings").select(col("vec_id"))
    val base = rebalanceSynth(e)
    val wave = rebalanceSynth(e.filter(col("vec_id") % 4 === 3)
      .select((col("vec_id") + 10000000L).as("vec_id")))
    // coarse artifact: one given centroid per planted cluster (the
    // trainer is gated by q42/q282; the unit under test here is the
    // maintain -> fence -> rebalance loop over a FROZEN artifact)
    val coarse: Seq[Seq[Double]] =
      Seq.tabulate(4)(j => Seq.fill(8)(j * 100.0 + 0.5))
    val cbs = Similarity.ivfPqCodebooks(base, "embedding", "vec_id",
      coarse, m = 4, ksub = 4, iters = 0, sampleN = bigN)
    val idx0 = Similarity.ivfPqEncode(base, "embedding", coarse, cbs,
        cellCol = "cell", codesCol = "codes")
      .select(col("vec_id"), col("cell"), col("codes"))
    val counts0 = Similarity.ivfPqCellCounts(idx0, "cell")
    val (idx1, counts1) = Similarity.ivfPqMaintain(idx0, counts0, wave,
      "vec_id", "embedding", "cell", "codes", coarse, cbs)
    val idx1c = idx1.localCheckpoint()
    val flagged = Similarity.ivfPqCellBalance(counts1, "cell", 21L, 20L)
      .filter(col("rebalance")).select(col("cell"))
      .collect().map(_.getInt(0)).toSeq.sorted
    require(flagged == Seq(4),
      s"ivfPqRebalanceQ: fence must flag exactly the planted hot cell 4, " +
        s"got $flagged")
    val source = base.unionByName(wave).localCheckpoint()
    val (coarse2, idx2) = Similarity.ivfPqRebalance(idx1c, "vec_id",
      "cell", "codes", source, "embedding", coarse, cbs, flagged,
      splitK = 2, sampleN = bigN)
    require(coarse2.size == 5, "ivfPqRebalanceQ: 4 cells must become 5")
    val idx2c = idx2.localCheckpoint()
    // untouched-cells byte-identity and spliced ≡ full-rebuild are
    // PqSpec's pins (same planted lobes at spec scale); the oracle
    // restates the whole post-split chain from scratch, so the gate no
    // longer re-encodes the corpus a second time per bench run
    // the fence must be QUIET on the rebalanced counts
    val bal2 = Similarity.ivfPqCellBalance(
        Similarity.ivfPqCellCounts(idx2c, "cell"), "cell", 21L, 20L)
      .localCheckpoint()
    require(bal2.filter(col("rebalance")).count() == 0,
      "ivfPqRebalanceQ: the split must leave every cell under the fence")
    val q = rebalanceSynth(e.filter(col("vec_id") === 7))
      .head().getSeq[Float](1).map(_.toDouble).toSeq
    Similarity.ivfPqTopKFromIndex(idx2c, "vec_id", "cell", "codes", q,
        coarse2, cbs, k = 10, nProbe = 3)
      .join(idx2c.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .join(bal2, Seq("cell"))
      .select(col("vec_id"), col("adc_dist"),
        col("cell").cast("long").as("cell"), col("n_vecs"),
        col("n_cells"), col("total_vecs"), col("skew_ppm"),
        col("rebalance"))
      .orderBy(col("adc_dist"), col("vec_id"))
  }

  /** Perceptual image dedup under the gate (q283): REAL pixel decode —
    * `javax.imageio` bound into the [[graft.multimodal.Multimodal
    * .decodePartitions]] seam — over a planted media corpus (one
    * deterministic PNG per doc_id < 24, plus 2×-resized
    * brightness-shifted BMP re-encodes of every third image under
    * clone ids, plus one TRUNCATED payload that must survive as a
    * null-hash row, not a crash), then 64-bit dHash + the SimHash
    * chunk-pigeonhole join ([[graft.multimodal.ImagePixels
    * .imageNearDups]]) at hamming ≤ 4. Every clone must pair its
    * original at distance 0 (cell-aligned resize + shift invariance is
    * constructive); distinct patterns sit > 8 bits apart
    * (ImagePixelsSpec), so the fence discriminates. The oracle
    * restates the per-image hashes as literals from the same fixed
    * fixture bytes (the q92 interpolation precedent) and the exhaustive
    * all-pairs hamming join — the engine's blocked join is
    * pigeonhole-exact, so the sets match. */
  def imageNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val P = graft.multimodal.ImagePixels
    val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
    val media = P.fixtureFrame(ids, "doc_id", 72, 64, "png")
      .unionByName(P.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 144, 128, "bmp", shift = 3, idOffset = 100000L))
      .unionByName(P.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", 36, 32, "png", idOffset = 999999L, truncateTo = 12))
    val hashes = P.dhashFrame(media, "media_id", "payload")
      .localCheckpoint()
    require(hashes.filter(col("dhash").isNull).count() == 1,
      "imageNearDupQ: the corrupt payload must survive as one null-hash row")
    graft.functions.Dedup.simhashNearDups(
        hashes.filter(col("dhash").isNotNull), "media_id", "dhash",
        maxDist = 4, numChunks = 8, chunkBits = 8, simBits = 64)
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** STREAMING image dedup under the gate (q286): the multimodal
    * sibling of q106 — binary image payloads drain through
    * [[graft.streaming.StreamMediaDedup]] (real pixel decode → dHash →
    * bipartite chunk-pigeonhole probe of the PERSISTED hash index).
    * Wave 1 lands 24 originals (index empty — all accepted). Wave 2
    * lands a resized brightness-shifted BMP re-encode of every EVEN
    * original (hamming 0 against the stored hash → dropped without
    * ever re-reading the original's bytes), 12 fresh patterns
    * (accepted), and one truncated payload (accepted via the null-hash
    * keep path, never indexed). A third run with no new files must be
    * a no-op. The oracle restates per-image hashes as literals from
    * the fixed fixture bytes and the greedy cross-wave drop rule; the
    * output pins each accepted image AND which wave accepted it. */
  def streamImageDedupQ(s: SparkSession, dir: String): DataFrame =
    PipelineQueries.withTempDir("graft_q286") { base =>
      val P = graft.multimodal.ImagePixels
      val src = s"$base/landing"
      val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
      val originals = P.fixtureFrame(ids, "doc_id", 72, 64, "png")
      val wave2 = P.fixtureFrame(ids.filter(col("doc_id") % 2 === 0),
          "doc_id", 144, 128, "bmp", shift = 3, idOffset = 100000L)
        .unionByName(P.fixtureFrame(
          docs(s, dir).filter(col("doc_id") >= 24 && col("doc_id") < 36)
            .select(col("doc_id")), "doc_id", 72, 64, "png",
          idOffset = 200000L))
        .unionByName(P.fixtureFrame(ids.filter(col("doc_id") === 0),
          "doc_id", 36, 32, "png", idOffset = 999999L, truncateTo = 12))
      // two staged waves, one lifecycle (one micro-batch per wave — the
      // greedy cross-wave drop rule); replay safety is
      // StreamImageDedupSpec's pin
      graft.streaming.StreamWaves.stage(src, Seq(originals, wave2))
      val n = graft.streaming.StreamMediaDedup.runAvailableNow(
        s, src, originals.schema, "media_id", "payload",
        s"$base/state", s"$base/ckpt", P.dhashFrame, "dhash")
      require(n == 2L, s"streamImageDedupQ: expected 2 batches, ran $n")
      s.read.parquet(s"$base/state/accepted")
        .select(col("media_id"), col("batch_id").cast("long").as("wave"))
        .orderBy(col("media_id"))
        .localCheckpoint()
    }

  /** STREAMING contamination gate under the gate (q295): benchmark
    * decontamination as ADMISSION CONTROL — each micro-batch of
    * documents probes the standing benchmark shingle set
    * ([[graft.streaming.StreamContamination]]) BEFORE landing;
    * contaminated docs quarantine by wave (written, never silently
    * dropped), clean docs admit, and the per-document report lands
    * beside both. Two waves (doc_id < 30, then 30–59) drain against a
    * benchmark of every 7th document; a third run must be a no-op
    * (replay safety), and the union of streamed per-wave reports must
    * EQUAL the batch [[graft.functions.Contamination.overlapReport]]
    * over the same corpus (StreamContaminationSpec's pin — the
    * admission decision depends only on frozen benchmark state, so
    * wave slicing cannot change it). The oracle restates the shingle
    * overlap, the wave split, and both flags in SQL. */
  def streamContaminationQ(s: SparkSession, dir: String): DataFrame =
    PipelineQueries.withTempDir("graft_q295") { base =>
      val d = docs(s, dir).persist()
      releasing(d) {
        val src = s"$base/landing"
        graft.streaming.StreamContamination.seedBenchmark(s,
          d.filter(col("doc_id") % 7 === 0), "text", s"$base/state")
        val w1 = d.filter(col("doc_id") < 30)
          .select(col("doc_id"), col("text"))
        val w2 = d.filter(col("doc_id") >= 30 && col("doc_id") < 60)
          .select(col("doc_id"), col("text"))
        // two staged waves, one lifecycle (one micro-batch per wave);
        // replay safety is StreamContaminationSpec's pin
        graft.streaming.StreamWaves.stage(src, Seq(w1, w2))
        val n = graft.streaming.StreamContamination
          .runAvailableNow(s, src, w1.schema, "doc_id", "text",
            s"$base/state", s"$base/ckpt")
        require(n == 2L, s"streamContaminationQ: expected 2 batches, ran $n")
        val reports = s.read.parquet(s"$base/state/reports")
          .localCheckpoint()
        // wave slicing is invisible: streamed reports ≡ the batch
        // operator — StreamContaminationSpec's pin; the oracle restates
        // shingle overlap, wave split, and both flags in SQL, so the
        // gate no longer re-runs the batch operator per bench run
        val admitted = s.read.parquet(s"$base/state/admitted")
          .select(col("doc_id"), lit(true).as("admitted"))
        reports.join(admitted, Seq("doc_id"), "left")
          .select(col("doc_id"), col("batch_id").cast("long").as("wave"),
            col("n_shingles"), col("n_hits"), col("contam_frac"),
            col("contaminated"),
            coalesce(col("admitted"), lit(false)).as("admitted"))
          .orderBy(col("doc_id"))
          .localCheckpoint()
      }
    }

  /** Perceptual AUDIO dedup under the gate (q288): real WAV PCM16
    * decode ([[graft.multimodal.AudioSamples]] — dependency-free RIFF
    * chunk walk, exact channel-sum mono mix) over a planted recording
    * corpus (one deterministic square-wave WAV per doc_id < 24, plus a
    * gain-halved 2×-length stereo 22.05 kHz re-encode of every third
    * recording under clone ids — SAME energy envelope, so hamming 0 by
    * construction — plus one TRUNCATED payload that must survive as a
    * null-hash row), then the 64-bit energy-envelope fingerprint + the
    * SimHash chunk-pigeonhole join at hamming ≤ 4. The oracle restates
    * the per-recording hashes as literals from the fixed fixture bytes
    * (the q283 discipline) and the exhaustive all-pairs hamming join. */
  def audioNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val A = graft.multimodal.AudioSamples
    val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
    val media = A.fixtureFrame(ids, "doc_id", 65 * 60, 44100)
      .unionByName(A.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 65 * 120, 22050, channels = 2, gainShift = 1,
        idOffset = 100000L))
      .unionByName(A.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", 65 * 2, 8000, idOffset = 999999L, truncateTo = 20))
    val hashes = A.audioHashFrame(media, "media_id", "payload")
      .localCheckpoint()
    require(hashes.filter(col("ahash").isNull).count() == 1,
      "audioNearDupQ: the corrupt payload must survive as one null-hash row")
    graft.functions.Dedup.simhashNearDups(
        hashes.filter(col("ahash").isNotNull), "media_id", "ahash",
        maxDist = 4, numChunks = 8, chunkBits = 8, simBits = 64)
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** CROSS-FORMAT audio dedup under the gate (q293): a crawl's audio
    * is bit-depth-diverse, so [[graft.multimodal.AudioSamples
    * .decodeWav]] normalizes every RIFF variant — PCM8/16/24/32 and
    * IEEE float32/64, plain or WAVE_FORMAT_EXTENSIBLE-wrapped — into
    * ONE canonical 16-bit integer sample domain where the quantized
    * fixture signal round-trips EXACTLY at every depth; the
    * energy-envelope fingerprint then collapses the same recording
    * across formats at hamming 0. The planted corpus: 24 PCM16
    * originals, a PCM24-extensible stereo re-encode of every third, a
    * float32 half-rate re-encode of every fourth, a PCM8 re-encode of
    * every sixth, and one truncated payload surviving as a null row
    * in-gate. Oracle: per-recording fingerprints restated as literals
    * from the SAME fixed fixture bytes (driver-decoded through the
    * same normalization), then the exhaustive all-pairs hamming join
    * the chunk-pigeonhole stage is exact against. */
  def audioCrossFormatQ(s: SparkSession, dir: String): DataFrame = {
    val A = graft.multimodal.AudioSamples
    val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
    val media = A.fixtureFrameDepth(ids, "doc_id", 65 * 60, 44100, "pcm16")
      .unionByName(A.fixtureFrameDepth(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 65 * 60, 44100, "pcm24", channels = 2, extensible = true,
        idOffset = 100000L))
      .unionByName(A.fixtureFrameDepth(ids.filter(col("doc_id") % 4 === 0),
        "doc_id", 65 * 30, 22050, "f32", idOffset = 200000L))
      .unionByName(A.fixtureFrameDepth(ids.filter(col("doc_id") % 6 === 0),
        "doc_id", 65 * 60, 44100, "pcm8", idOffset = 300000L))
      .unionByName(A.fixtureFrameDepth(ids.filter(col("doc_id") === 0),
        "doc_id", 65 * 2, 8000, "pcm32", idOffset = 999999L,
        truncateTo = 30))
    val hashes = A.audioHashFrameAny(media, "media_id", "payload")
      .localCheckpoint()
    require(hashes.filter(col("ahash").isNull).count() == 1,
      "audioCrossFormatQ: the corrupt payload must keep as one null row")
    require(hashes.filter(col("fmt").isNotNull).select(col("fmt"))
      .distinct().count() == 4,
      "audioCrossFormatQ: all four planted formats must decode")
    graft.functions.Dedup.simhashNearDups(
        hashes.filter(col("ahash").isNotNull), "media_id", "ahash",
        maxDist = 4, numChunks = 8, chunkBits = 8, simBits = 64)
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** CROSS-CODEC audio dedup under the gate (q299): the q293 bit-depth
    * collapse extended across CONTAINERS — [[graft.multimodal
    * .FlacCodec]] is a dependency-free FLAC subset decoder (frame
    * sync, UTF-8 frame numbers, CONSTANT/VERBATIM/FIXED subframes,
    * partitioned Rice residuals, both CRCs verified) normalizing into
    * the same canonical sample domain as the WAV paths, so one
    * recording's WAV PCM16 and FLAC encodes fingerprint IDENTICALLY
    * (hamming 0) while remaining byte-level disjoint containers. The
    * planted corpus: 24 WAV originals, a MID-SIDE-decorrelated stereo
    * order-2 FLAC re-encode
    * of every third, a half-rate 4-partition order-1 FLAC of every
    * fourth, and one truncated FLAC surviving as a null row in-gate.
    * Oracle: fingerprint literals from the SAME fixture bytes + the
    * exhaustive pairs join (the q288/q293 discipline). */
  def audioCrossCodecQ(s: SparkSession, dir: String): DataFrame = {
    val A = graft.multimodal.AudioSamples
    val F = graft.multimodal.FlacCodec
    val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
    val media = A.fixtureFrameDepth(ids, "doc_id", 65 * 60, 44100, "pcm16")
      .unionByName(F.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 65 * 60, 44100, channels = 2, order = 2,
        stereoMode = "mid-side", idOffset = 100000L))
      .unionByName(F.fixtureFrame(ids.filter(col("doc_id") % 4 === 0),
        "doc_id", 65 * 30, 22050, order = 1, partitionOrder = 2,
        idOffset = 200000L))
      .unionByName(F.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", 65 * 2, 8000, idOffset = 999999L, truncateTo = 40))
    val hashes = A.audioHashFrameAny(media, "media_id", "payload")
      .localCheckpoint()
    require(hashes.filter(col("ahash").isNull).count() == 1,
      "audioCrossCodecQ: the corrupt payload must keep as one null row")
    require(hashes.filter(col("fmt") === "flac").count() == 14L,
      "audioCrossCodecQ: all 14 intact FLAC payloads must decode")
    graft.functions.Dedup.simhashNearDups(
        hashes.filter(col("ahash").isNotNull), "media_id", "ahash",
        maxDist = 4, numChunks = 8, chunkBits = 8, simBits = 64)
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** STREAMING cross-CODEC audio dedup under the gate (q301): q299's
    * batch invariant, live — wave 1 lands 24 PCM16 WAV recordings
    * (all accepted, the index is empty); wave 2 lands a FLAC re-encode
    * of every third recording (decodes to the SAME canonical samples →
    * hamming 0 against the STANDING WAV index → dropped without the
    * original's bytes ever being re-read), six fresh WAV recordings
    * (accepted), and one truncated FLAC (accepted via the null-hash
    * keep path, never indexed). One lifecycle, one micro-batch per
    * staged wave ([[graft.streaming.StreamMediaDedup]] over the audio
    * hash frame); replay safety is StreamImageDedupSpec's pin. The
    * oracle restates every fixture hash as a literal (decoded by the
    * same codecs on the driver) and the greedy cross-wave drop rule. */
  def streamAudioDedupQ(s: SparkSession, dir: String): DataFrame =
    PipelineQueries.withTempDir("graft_q301") { base =>
      val A = graft.multimodal.AudioSamples
      val F = graft.multimodal.FlacCodec
      val src = s"$base/landing"
      val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
      val wave1 = A.fixtureFrameDepth(ids, "doc_id", 65 * 60, 44100, "pcm16")
      val wave2 = F.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
          "doc_id", 65 * 60, 44100, idOffset = 100000L)
        .unionByName(A.fixtureFrameDepth(
          docs(s, dir).filter(col("doc_id") >= 24 && col("doc_id") < 30)
            .select(col("doc_id")), "doc_id", 65 * 60, 44100, "pcm16",
          idOffset = 200000L))
        .unionByName(F.fixtureFrame(ids.filter(col("doc_id") === 0),
          "doc_id", 65 * 2, 8000, idOffset = 999999L, truncateTo = 40))
      graft.streaming.StreamWaves.stage(src, Seq(wave1, wave2))
      val n = graft.streaming.StreamMediaDedup.runAvailableNow(
        s, src, wave1.schema, "media_id", "payload",
        s"$base/state", s"$base/ckpt", A.audioHashFrameAny, "ahash")
      require(n == 2L, s"streamAudioDedupQ: expected 2 batches, ran $n")
      s.read.parquet(s"$base/state/accepted")
        .select(col("media_id"), col("batch_id").cast("long").as("wave"))
        .orderBy(col("media_id"))
        .localCheckpoint()
    }

  /** GOLDEN-IMAGE consolidation under the gate (q291): perceptual
    * pairs → TRANSITIVE CLOSURE → one canonical image per cluster —
    * the q130 golden-records shape on the image modality, and the
    * reason closure matters here: similarity is not transitive. The
    * planted corpus layers controlled partial edits (the divergeRows
    * fixture re-rolls exactly one dHash row band per variant):
    * original O, a one-row variant X, and a two-row variant Y chain as
    * O~X and X~Y within hamming 4 while O—Y sits beyond the fence —
    * asserted in-gate for the seed-0 chain — so {O, X, Y} becomes ONE
    * cluster only through the closure ([[graft.operators.Components
    * .assignClusters]]), never through direct pairing. Exact resized
    * BMP clones ride along at distance 0. The oracle restates the
    * literal hashes, the pair fence, and the closure as a recursive
    * CTE with min-label clusters. */
  def goldenImagesQ(s: SparkSession, dir: String): DataFrame = {
    val P = graft.multimodal.ImagePixels
    val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
    val media = P.fixtureFrame(ids, "doc_id", 72, 64, "png")
      .unionByName(P.fixtureFrame(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", 72, 64, "png", idOffset = 100000L,
        divergeRows = Seq(2)))
      .unionByName(P.fixtureFrame(ids.filter(col("doc_id") % 2 === 0),
        "doc_id", 72, 64, "png", idOffset = 200000L,
        divergeRows = Seq(2, 5)))
      .unionByName(P.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 144, 128, "bmp", shift = 3, idOffset = 300000L))
    val hashes = P.dhashFrame(media, "media_id", "payload")
      .select(col("media_id"), col("dhash"))
      .localCheckpoint()
    // the planted chain is REAL: O~X and X~Y pair, O—Y does not
    val chain = hashes
      .filter(col("media_id").isin(0L, 100000L, 200000L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def d(a: Long, b: Long) = java.lang.Long.bitCount(chain(a) ^ chain(b))
    require(d(0L, 100000L) <= 4 && d(100000L, 200000L) <= 4 &&
      d(0L, 200000L) > 4,
      "goldenImagesQ: the seed-0 chain fixture lost its O~X~Y shape")
    val pairs = graft.functions.Dedup.simhashNearDups(hashes, "media_id",
      "dhash", maxDist = 4, numChunks = 8, chunkBits = 8, simBits = 64)
    graft.operators.Components.assignClusters(hashes, "media_id", pairs,
        "media_id_a", "media_id_b")
      .select(col("media_id"), col("cluster_id"),
        (col("media_id") === col("cluster_id")).as("canonical"))
      .orderBy(col("media_id"))
  }

  /** VIDEO near-dup under the gate (q290): frame-signature dedup over
    * REAL multi-frame decode ([[graft.multimodal.VideoFrames]] —
    * animated GIF, the in-JDK multi-frame container, read pixel-exactly
    * via ImageIO): each video fingerprints as the dHashes of 8 evenly-
    * sampled frames and a pair qualifies when ≥ 4 positions agree
    * within hamming 4. The planted corpus: 12 originals (12 frames
    * each), an upscaled frame-rate-doubled brightness-shifted
    * re-encode of every third (rate-invariant sampling ⇒ all 8
    * positions match), a HALF-DIVERGED copy of every fourth (frames
    * ≥ 6 re-keyed ⇒ exactly 4 of 8 positions match — ON the fence),
    * and one truncated payload surviving as a null row in-gate. The
    * oracle restates every (video, position, hash) as literals from
    * the fixed fixture bytes and the per-position hamming + match-count
    * rule in SQL. */
  def videoNearDupQ(s: SparkSession, dir: String): DataFrame = {
    val V = graft.multimodal.VideoFrames
    val ids = docs(s, dir).filter(col("doc_id") < 12).select(col("doc_id"))
    val media = V.fixtureFrame(ids, "doc_id", 12, 72, 64)
      .unionByName(V.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 12, 144, 128, shift = 3, rate = 2, idOffset = 100000L))
      .unionByName(V.fixtureFrame(ids.filter(col("doc_id") % 4 === 0),
        "doc_id", 12, 72, 64, idOffset = 200000L, divergeFrom = 6))
      .unionByName(V.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", 4, 36, 32, idOffset = 999999L, truncateTo = 15))
    val hashes = V.videoHashFrame(media, "media_id", "payload", k = 8)
      .localCheckpoint()
    require(hashes.filter(col("fhash").isNull).count() == 1,
      "videoNearDupQ: the corrupt payload must survive as one null row")
    V.videoNearDupsFromHashes(hashes.filter(col("fhash").isNotNull),
        "media_id")
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** DELTA-FRAME GIF compositing under the gate (q292): real optimized
    * GIFs store partial frames + GIF89a disposal, so frame hashes must
    * fingerprint what a PLAYER shows, not what a frame STORES.
    * [[graft.multimodal.VideoFrames.sampledHashes]] replays the
    * disposal spec onto a logical-screen canvas; the planted corpus is
    * 10 full-frame encodes and 10 genuinely delta-encoded copies of
    * the SAME content (frame 0 full, later frames store only a
    * changing patch rect — asserted in-gate: the raw per-frame path
    * diverges from the composited one, so compositing is load-bearing,
    * and the delta payload is strictly smaller than its full-frame
    * twin), plus one truncated payload surviving as a null row. The
    * oracle restates every (video, position, hash) from the CONTENT
    * frames directly — [[graft.multimodal.ImagePixels.dHash64]] over
    * [[graft.multimodal.VideoFrames.deltaContentFrame]] renders,
    * never through the GIF reader — so both encodes must land on the
    * renderer-independent content fingerprint. */
  def videoDeltaCompositeQ(s: SparkSession, dir: String): DataFrame = {
    val V = graft.multimodal.VideoFrames
    // compositing must be doing real work: the raw per-stored-frame
    // path diverges on a delta encode, and the delta encode is
    // materially smaller than the full-frame encode of the same content
    val deltaBytes = V.deltaGifPayload(0L, 12, 72, 64)
    require(V.sampledHashes(deltaBytes, 8, composite = false) !=
      V.sampledHashes(deltaBytes, 8),
      "videoDeltaCompositeQ: raw path must diverge on a delta encode")
    require(deltaBytes.length < V.fullGifPayload(0L, 12, 72, 64).length,
      "videoDeltaCompositeQ: the delta encode must actually be a delta")
    val ids = docs(s, dir).filter(col("doc_id") < 10).select(col("doc_id"))
    val media = V.deltaFixtureFrame(ids, "doc_id", 12, 72, 64, delta = false)
      .unionByName(V.deltaFixtureFrame(ids, "doc_id", 12, 72, 64,
        delta = true, idOffset = 100000L))
      .unionByName(V.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", 4, 36, 32, idOffset = 999999L, truncateTo = 15))
    V.videoHashFrame(media, "media_id", "payload", k = 8)
      .orderBy(col("media_id"), col("sample_idx"))
  }

  /** MP4 (ISO-BMFF) CONTAINER-level stream identity under the gate
    * (q300): the crawl's video formats fingerprint on the box walk —
    * [[graft.multimodal.Mp4Boxes]] parses `ftyp`/`mvhd`/`trak`/`stbl`
    * to per-track (codec, sample count, sample-size-table hash) and
    * hashes them container-independently, so a RE-MUX of the same
    * streams (mdat-first box order, doubled timescale, shifted chunk
    * offsets, pad box — every planted %3 original gets one) COLLIDES
    * exactly while different content separates; a truncated payload
    * survives as the one null keep row (asserted in-gate). Pairing is
    * an exact equi-join on the fingerprint — a shuffle key at scale,
    * never a pairwise compare. The oracle restates every parsed
    * (fingerprint, track count, duration) as literals from the fixed
    * fixture bytes and the collision join in SQL. */
  def mp4RemuxDedupQ(s: SparkSession, dir: String): DataFrame = {
    val M = graft.multimodal.Mp4Boxes
    val ids = docs(s, dir).filter(col("doc_id") < 12).select(col("doc_id"))
    val media = M.fixtureFrame(ids, "doc_id")
      .unionByName(M.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", remux = true, idOffset = 100000L))
      .unionByName(M.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", idOffset = 999999L, truncateTo = 60))
    val frame = M.mp4Frame(media, "media_id", "payload").localCheckpoint()
    require(frame.filter(col("stream_fp").isNull).count() == 1,
      "mp4RemuxDedupQ: the truncated payload must survive as one null row")
    val h = frame.filter(col("stream_fp").isNotNull)
      .select(col("media_id"), col("stream_fp"), col("n_tracks"),
        col("duration_ms"))
    h.as("a").join(h.as("b"),
        col("a.stream_fp") === col("b.stream_fp") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_id_a"),
        col("b.media_id").as("media_id_b"),
        col("a.stream_fp").as("stream_fp"),
        col("a.n_tracks").as("n_tracks"),
        col("a.duration_ms").as("duration_ms"))
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** Matroska/WebM TRACK identity under the gate (q304): the q300
    * container discipline on the other crawl video format —
    * [[graft.multimodal.WebmTracks]] walks the EBML tree and hashes
    * per-track (codec id, CodecPrivate, de-laced frame payloads), so a
    * RE-MUX of the same streams (one big cluster instead of many,
    * Xiph-laced audio instead of unlaced blocks, a doubled
    * TimestampScale with the Duration rescaled, a Void pad) COLLIDES
    * exactly while different content separates; a truncated payload
    * keeps as the one null row (asserted in-gate). The oracle restates
    * every parsed (fingerprint, track count, duration) as literals
    * from the fixed fixture bytes + the collision equi-join. */
  def webmRemuxDedupQ(s: SparkSession, dir: String): DataFrame = {
    val M = graft.multimodal.WebmTracks
    val ids = docs(s, dir).filter(col("doc_id") < 12).select(col("doc_id"))
    val media = M.fixtureFrame(ids, "doc_id")
      .unionByName(M.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", remux = true, idOffset = 100000L))
      .unionByName(M.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", idOffset = 999999L, truncateTo = 50))
    val frame = M.webmFrame(media, "media_id", "payload").localCheckpoint()
    require(frame.filter(col("stream_fp").isNull).count() == 1,
      "webmRemuxDedupQ: the truncated payload must survive as one null row")
    val h = frame.filter(col("stream_fp").isNotNull)
      .select(col("media_id"), col("stream_fp"), col("n_tracks"),
        col("duration_ms"))
    h.as("a").join(h.as("b"),
        col("a.stream_fp") === col("b.stream_fp") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_id_a"),
        col("b.media_id").as("media_id_b"),
        col("a.stream_fp").as("stream_fp"),
        col("a.n_tracks").as("n_tracks"),
        col("a.duration_ms").as("duration_ms"))
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** MP3 FRAME-WALK identity under the gate (q303): the q300 container
    * discipline on the crawl's dominant audio format —
    * [[graft.multimodal.Mp3Frames]] skips the ID3v2/ID3v1 tags and
    * hashes the complete Layer III frame walk, so a RE-TAGGED copy of
    * the same encode (different title/tag bytes, the universal music
    * duplicate class) COLLIDES exactly while re-encodes separate; a
    * mid-frame-truncated payload keeps as the one null row (asserted
    * in-gate). Pairing is an exact equi-join on the fingerprint. The
    * oracle restates every (fingerprint, frame count, duration) as
    * literals from the fixed fixture bytes + the collision join. */
  def mp3RetagDedupQ(s: SparkSession, dir: String): DataFrame = {
    val M = graft.multimodal.Mp3Frames
    val ids = docs(s, dir).filter(col("doc_id") < 12).select(col("doc_id"))
    val media = M.fixtureFrame(ids, "doc_id")
      .unionByName(M.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", retagSeed = 77L, idOffset = 100000L))
      .unionByName(M.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", idOffset = 999999L, truncateTo = 300))
    val frame = M.mp3Frame(media, "media_id", "payload").localCheckpoint()
    require(frame.filter(col("stream_fp").isNull).count() == 1,
      "mp3RetagDedupQ: the truncated payload must survive as one null row")
    val h = frame.filter(col("stream_fp").isNotNull)
      .select(col("media_id"), col("stream_fp"), col("n_frames"),
        col("duration_ms"))
    h.as("a").join(h.as("b"),
        col("a.stream_fp") === col("b.stream_fp") &&
          col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_id_a"),
        col("b.media_id").as("media_id_b"),
        col("a.stream_fp").as("stream_fp"),
        col("a.n_frames").as("n_frames"),
        col("a.duration_ms").as("duration_ms"))
      .orderBy(col("media_id_a"), col("media_id_b"))
  }

  /** Cross-format PIXEL-EXACT image dedup under the gate (q287): the
    * cheap first stage before any perceptual pass —
    * [[graft.multimodal.ImagePixels.pixelFingerprint]] hashes the
    * DECODED canonical RGB pixels (dims + row-major triples), so a
    * lossless re-encode (PNG ↔ BMP) collapses onto its original where
    * a raw payload md5 sees distinct files (asserted in-gate: all 49
    * payload byte strings are distinct). Min-id keeper per
    * fingerprint; the truncated payload keeps as a null-fingerprint
    * row. Oracle restates the fingerprints as literals from the fixed
    * fixture bytes + the min-id rule. */
  def pixelDedupQ(s: SparkSession, dir: String): DataFrame = {
    val P = graft.multimodal.ImagePixels
    val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
    val media = P.fixtureFrame(ids, "doc_id", 72, 64, "png")
      .unionByName(P.fixtureFrame(ids, "doc_id", 72, 64, "bmp",
        idOffset = 100000L))
      .unionByName(P.fixtureFrame(ids.filter(col("doc_id") === 0),
        "doc_id", 36, 32, "png", idOffset = 999999L, truncateTo = 12))
      .localCheckpoint()
    // raw BYTE identity must NOT collapse the cross-format pairs — the
    // whole point of decoding to canonical pixels first
    require(media.select(md5(col("payload"))).distinct().count() == 49L,
      "pixelDedupQ: expected 49 distinct payload byte strings")
    val fp = P.fingerprintFrame(media, "media_id", "payload")
    val keepers = fp.filter(col("pixel_fp").isNotNull)
      .groupBy(col("pixel_fp")).agg(min(col("media_id")).as("keeper"))
    fp.join(keepers, Seq("pixel_fp"), "left")
      .select(col("media_id"),
        (col("pixel_fp").isNull || col("media_id") === col("keeper"))
          .as("keep"))
      .orderBy(col("media_id"))
  }

  /** Offline retrieval EVALUATION under the gate (q167): the complete
    * index-quality harness — the q166 batched IVF-PQ serving run
    * side-by-side with the exact batched L2 ground truth
    * ([[graft.functions.Similarity.l2TopKBatch]], corpus scanned once
    * for all queries), folded into a per-query recall@10 report
    * ([[graft.functions.Similarity.recallAtK]]). This is what "is the
    * index good enough to ship" looks like as a query; the oracle
    * restates BOTH chains and the integer-division recall, so a wrong
    * ground truth, a serving drift, or an overlap miscount all break
    * the hash. */
  def recallEvalQ(s: SparkSession, dir: String): DataFrame = {
    val (e, coarse, cbs, idx, qs) = ivfPqFixture(s, dir)
    val approx = Similarity.ivfPqTopKBatch(qs, "qid", "embedding", idx,
      "vec_id", "cell", "codes", coarse, cbs, k = 10, nProbe = 4)
    val exact = Similarity.l2TopKBatch(qs, "qid", "embedding",
      e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k = 10)
    Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 10)
      .orderBy(col("qid"))
  }

  /** Recall-by-SLICE under the gate (q185): the q167 evaluation
    * re-cut per embedding LABEL — the per-domain index-quality report
    * ("is the index fair across slices, or does one class eat the
    * recall loss"). Integer counts only (n_queries, total_hits per
    * label); a summed-double recall would be summation-order-
    * sensitive across engines. The oracle shares q167's WITH-chain
    * verbatim (one definition — the gates cannot drift). */
  def recallByLabelQ(s: SparkSession, dir: String): DataFrame = {
    val (e, coarse, cbs, idx, qs) = ivfPqFixture(s, dir)
    val approx = Similarity.ivfPqTopKBatch(qs, "qid", "embedding", idx,
      "vec_id", "cell", "codes", coarse, cbs, k = 10, nProbe = 4)
    val exact = Similarity.l2TopKBatch(qs, "qid", "embedding",
      e.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k = 10)
    Similarity.recallAtK(exact, approx, "qid", "vec_id", k = 10)
      .join(e.select(col("vec_id").as("qid"), col("label")), Seq("qid"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_queries"), sum(col("n_hit")).as("total_hits"))
      .orderBy(col("label"))
  }

  /** Sliding-window document chunking under the gate (q168): every doc
    * splits into 64-token windows advancing by 48 (16-token overlap)
    * through [[graft.functions.TextAnalysis.chunkDocuments]] — the
    * embedding-prep layout a retrieval pipeline feeds to its encoder.
    * The oracle restates the integer window count, the per-window
    * slice, and the joined text md5 — so a lost tail window, an
    * off-by-one slice, or an overlap drift breaks the hash. */
  def chunkDocsQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.TextAnalysis.chunkDocuments(
        docs(s, dir).select(col("doc_id"), col("text")),
        "doc_id", "text", chunkTokens = 64, stride = 48)
      .select(col("doc_id"), col("chunk_id"),
        md5(col("chunk_text")).as("chunk_md5"), col("n_tokens"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** WebDataset-style tar shard EXPORT under the gate (q171): documents
    * render to binary payloads and land as size-bounded POSIX tars
    * through [[graft.multimodal.TarShards.writeTarShards]]; the gated
    * output is the export MANIFEST (shard, sample count, payload
    * bytes), computed from the completed write — so a lost sample, a
    * mis-packed shard, or a failed tar all surface. The oracle restates
    * the packShards exclusive-prefix-sum assignment (shard = bytes
    * before the sample ÷ budget) and the per-shard rollup; the tar
    * byte format itself is pinned by TarShardsSpec (checksum-verified
    * reader + system `tar -tf` + byte-identical re-export). */
  def tarShardsQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q171") { base =>
      val payloads = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      graft.multimodal.TarShards.writeTarShards(payloads, "doc_id",
          "payload", s"$base/shards", shardBytes = 65536L)
        .select(col("shard_id"), col("n_samples"), col("data_bytes"))
        .orderBy(col("shard_id"))
        .localCheckpoint()
    }

  /** Tar shard export→import IDENTITY under the gate (q172): documents
    * export through [[graft.multimodal.TarShards.writeTarShards]] and
    * re-import through the checksum-verifying
    * [[graft.multimodal.TarShards.readTarShards]] loader-side reader;
    * every payload must come back byte-identical (md5-checked against
    * the source table directly). A dropped sample, a mis-paired
    * .bin/.json, truncated content, or a corrupt header all break the
    * hash — the whole binary format round-trips under the oracle. */
  def tarRoundTripQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q172") { base =>
      val payloads = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      // writeTarShards is eager (manifest localCheckpoint) — the export
      // completes here
      graft.multimodal.TarShards.writeTarShards(payloads, "doc_id",
        "payload", s"$base/shards", shardBytes = 65536L)
      graft.multimodal.TarShards.readTarShards(s, s"$base/shards")
        .select(col("key").cast("long").as("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** WebDataset → perceptual-dedup COMPOSITION under the gate (q289):
    * the flow a multimodal training pipeline actually runs — the image
    * corpus (q283's planted originals + resized/re-encoded clones)
    * exports into size-bounded POSIX tar shards
    * ([[graft.multimodal.TarShards.writeTarShards]]), re-imports
    * through the checksum-verifying loader-side reader, and the
    * IMPORTED payloads feed the real pixel decode → dHash →
    * pigeonhole-join dedup ([[graft.multimodal.ImagePixels
    * .imageNearDups]]). Byte-exact shard round-trip is what makes the
    * oracle valid: the pair set must equal q283's literal-hash
    * restatement exactly — a sample lost in packing, a truncated tar
    * entry, or any decode drift through the round trip breaks the
    * hash. */
  def tarImageDedupQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q289") { base =>
      val P = graft.multimodal.ImagePixels
      val ids = docs(s, dir).filter(col("doc_id") < 24).select(col("doc_id"))
      val media = P.fixtureFrame(ids, "doc_id", 72, 64, "png")
        .unionByName(P.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
          "doc_id", 144, 128, "bmp", shift = 3, idOffset = 100000L))
      graft.multimodal.TarShards.writeTarShards(media, "media_id",
        "payload", s"$base/shards", shardBytes = 65536L)
      val imported = graft.multimodal.TarShards
        .readTarShards(s, s"$base/shards")
        .select(col("key").cast("long").as("media_id"), col("payload"))
      require(imported.count() == 32L,
        "tarImageDedupQ: expected all 32 samples back from the shards")
      P.imageNearDups(imported, "media_id", "payload")
        .orderBy(col("media_id_a"), col("media_id_b"))
        .localCheckpoint()
    }

  /** WARC crawl ingest under the gate (q297): the container a web
    * corpus actually arrives in — Common-Crawl-layout `.warc.gz`
    * (every record its own gzip member, inflated natively by
    * `java.util.zip` — REAL decode, no stub) plus plain `.warc`, both
    * ingested through one scan by [[graft.multimodal.WarcArchives
    * .readWarcRecords]], then the full front door: HTTP header split
    * ([[graft.multimodal.WarcArchives.httpBodyText]]) and HTML → text
    * extraction ([[graft.functions.TextAnalysis.htmlText]] — script/
    * style blocks drop whole, tags strip, the six ubiquitous entities
    * decode, whitespace collapses). 48 pages (40 gzip + 8 plain, 16
    * records/file by the distributed prefix sum; warcinfo leaders
    * counted in-gate) wrap the documents table's text in real HTML
    * with planted entities; the oracle rebuilds the pages and restates
    * the identical extraction chain in SQL, so one leaked script
    * character, a mis-split header, or an entity mis-decode breaks the
    * hash. */
  def warcIngestQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q297") { base =>
      val W = graft.multimodal.WarcArchives
      val d = docs(s, dir).filter(col("doc_id") < 48)
      def pages(dd: DataFrame) = dd.select(col("doc_id"),
        concat(lit("https://example.com/doc/"), col("doc_id")).as("uri"),
        encode(concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
          lit("<html><head><title>Doc "), col("doc_id"),
          lit("</title><style>p{margin:0}</style></head><body><h1>Doc "),
          col("doc_id"), lit("</h1><p>"), col("text"),
          lit("</p><script>var x = 1 &amp;&amp; 2;</script>" +
            "<p>A &amp; B &lt;tag&gt; &quot;q&#39;s&quot;&nbsp;end</p>" +
            "</body></html>")), "UTF-8").as("payload"))
      val m1 = W.writeWarcFiles(pages(d.filter(col("doc_id") < 40)),
        "doc_id", "uri", "payload", s"$base/warc", recordsPerFile = 16)
      require(m1.count() == 3,
        "warcIngestQ: 40 records at 16/file must pack to 3 files")
      // wave 2 lands UNCOMPRESSED .warc in the same directory — both
      // container forms ingest through one scan
      val m2 = W.writeWarcFiles(pages(d.filter(col("doc_id") >= 40)),
        "doc_id", "uri", "payload", s"$base/warc", recordsPerFile = 16,
        compress = false)
      require(m2.count() == 1,
        "warcIngestQ: 8 records must pack to one plain file")
      val recs = W.readWarcRecords(s, s"$base/warc").localCheckpoint()
      require(recs.filter(col("warc_type") === "warcinfo").count() == 4,
        "warcIngestQ: every file must lead with its warcinfo record")
      recs.filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long")
            .as("doc_id"),
          col("target_uri"),
          graft.functions.TextAnalysis.htmlText(
            W.httpBodyText(col("payload"))).as("txt"))
        .select(col("doc_id"), col("target_uri"),
          md5(col("txt")).as("text_md5"),
          length(col("txt")).cast("long").as("n_chars"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** CRAWL-TO-CORPUS capstone under the gate (q298): the whole front
    * door as ONE chain — the q284 orchestration discipline applied to
    * the crawl side. Real `.warc.gz` ingest ([[graft.multimodal
    * .WarcArchives]]) of 48 originals plus 10 exact-duplicate pages
    * under fresh URIs (same content id in the HTML, so the EXTRACTED
    * text is byte-identical — URL-level dedup cannot catch these; text
    * dedup must), HTTP split + HTML extraction, then the curation
    * battery every stage of which is an existing gated operator:
    * language ID, quality score, exact dedup
    * ([[graft.functions.Dedup.exactDedup]] min-id keeper), and
    * benchmark contamination ([[graft.functions.Contamination
    * .overlapReport]] against every 7th document — the raw benchmark
    * text rides INSIDE the extracted page, so its interior 8-gram
    * shingles must still hit). admitted = dedup-keeper ∧ clean ∧
    * English. The oracle rebuilds the pages, restates the extraction
    * chain, and re-runs every stage in SQL — one flag wrong on one
    * record breaks the hash. */
  def crawlCurationQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q298") { base =>
      val W = graft.multimodal.WarcArchives
      val T = TextAnalysis
      val d = docs(s, dir).persist()
      releasing(d) {
        val base48 = d.filter(col("doc_id") < 48)
        val originals = base48.select(col("doc_id").as("rec_id"),
          col("doc_id").as("content_id"), col("text"))
        val dups = base48.filter(col("doc_id") % 5 === 0)
          .select((col("doc_id") + 1000L).as("rec_id"),
            col("doc_id").as("content_id"), col("text"))
        // one HOSTILE page rides along: numeric character references
        // (hex + decimal, incl. adjacency runs), an IE conditional
        // comment whose body would break a naive tag regex, a CDATA
        // section of raw markup, and an UNCLOSED <script> that must
        // swallow to EOF — none of it may leak into the extracted text
        val hostile = s.range(1).select(lit(5000L).as("rec_id"),
          lit("https://example.com/doc/5000").as("uri"),
          encode(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            "<html><head><title>Hostile</title></head><body>" +
            "<p>It&#x2019;s A&#8212;B &#65;&#66;&#67;</p>" +
            "<!--[if IE]><p>ie junk</p><![endif]-->" +
            "<![CDATA[ <p>raw cdata</p> ]]><p>tail text</p>" +
            "<script>var x = \"<p>never text</p>\";"), "UTF-8")
            .as("payload"))
        val pages = originals.unionByName(dups).select(col("rec_id"),
          concat(lit("https://example.com/doc/"), col("rec_id")).as("uri"),
          encode(concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
            lit("<html><head><title>Doc "), col("content_id"),
            lit("</title><style>p{margin:0}</style></head><body><h1>Doc "),
            col("content_id"), lit("</h1><p>"), col("text"),
            lit("</p><script>var x = 1 &amp;&amp; 2;</script>" +
              "<p>A &amp; B &lt;tag&gt; &quot;q&#39;s&quot;&nbsp;end</p>" +
              "</body></html>")), "UTF-8").as("payload"))
          .unionByName(hostile)
        W.writeWarcFiles(pages, "rec_id", "uri", "payload",
          s"$base/warc", recordsPerFile = 16)
        val txt = W.readWarcRecords(s, s"$base/warc")
          .filter(col("warc_type") === "response")
          .select(
            regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long")
              .as("rec_id"),
            T.htmlText(W.httpBodyText(col("payload"))).as("txt"))
          .localCheckpoint() // extraction feeds four curation branches
        require(txt.count() == 59L,
          "crawlCurationQ: expected 59 response records back")
        val scored = txt.select(col("rec_id"), col("txt"),
          T.langId(col("txt")).as("lang_pred"),
          T.qualityScore(col("txt")).as("quality"))
        val kept = Dedup.exactDedup(txt, "txt", "rec_id")
          .select(col("rec_id"), lit(true).as("keep_dedup"))
        val contam = Contamination.overlapReport(txt, "rec_id", "txt",
            d.filter(col("doc_id") % 7 === 0), "text", n = 8)
          .select(col("rec_id"), col("contaminated"))
        scored
          .join(kept, Seq("rec_id"), "left")
          .join(contam, Seq("rec_id"))
          .select(col("rec_id"), col("lang_pred"), col("quality"),
            coalesce(col("keep_dedup"), lit(false)).as("keep_dedup"),
            col("contaminated"),
            (coalesce(col("keep_dedup"), lit(false)) &&
              !col("contaminated") && col("lang_pred") === "en")
              .as("admitted"))
          .orderBy(col("rec_id"))
          .localCheckpoint()
      }
    }

  /** IMAGE-TEXT pair curation under the gate (q296): what a multimodal
    * training pipeline actually runs over WebDataset shards — a
    * (caption, image) pair is redundant when EITHER modality
    * duplicates an already-kept pair, and the drop decision must be
    * taken over the TRANSITIVE closure of both edge sets (A shares an
    * image with O, B shares a caption with A ⇒ O, A, B are one unit
    * even though A–B share nothing directly — asserted in-gate: the
    * planted cross-modal triple has no direct A–B edge in either pair
    * set, yet lands in one cluster). The corpus round-trips through
    * real tar shards with the caption riding the sample's JSON sidecar
    * ([[graft.multimodal.TarShards.writeTarShards]] `metaCol`), then
    * [[graft.multimodal.ImagePixels.imageNearDups]] (dHash ≤ 4) and
    * [[graft.functions.Dedup.minhashNearDups]] (char-7 shingles,
    * Jaccard ≥ 0.95) generate the two modality edge sets, and
    * [[graft.operators.Components.assignClusters]] takes the joint
    * min-id keep decision. Oracle: image hashes restated as literals
    * from the fixed fixture bytes, caption Jaccard restated from the
    * documents table, closure via the recursive reach CTE. */
  def pairCurationQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q296") { base =>
      val (_, _, _, clusters) = pairCurationParts(s, dir, base.toString)
      clusters
        .select(col("pair_id"), col("cluster_id"),
          (col("pair_id") === col("cluster_id")).as("keep"))
        .orderBy(col("pair_id"))
        .localCheckpoint()
    }

  /** q296's pipeline with intermediates exposed: (imported pairs, image
    * edge set, caption edge set, joint clusters). The fixture-geometry
    * invariants the gate used to re-prove with eight in-query driver
    * actions (38-pair shard round-trip; the planted cross-modal triple —
    * 0–100000 image-only, 0–200000 caption-only, no direct
    * 100000–200000 edge, closure into one unit) are PairCurationSpec's
    * pins over these intermediates at the same geometry; the oracle
    * independently restates hashes, caption Jaccard, and the closure, so
    * divergence still fails the round's gate. The timed query computes
    * only its declared output (the r21 discipline), and the two
    * single-pass modality legs — each internally materialized — overlap
    * on a 2-thread driver pool (guide §2.6, the q111 shape). */
  private[queries] def pairCurationParts(s: SparkSession, dir: String,
      base: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val P = graft.multimodal.ImagePixels
    val d = docs(s, dir).persist()
    val ids = d.filter(col("doc_id") < 24).select(col("doc_id"))
    // originals: image seed = caption doc = pair id
    val originals = P.fixtureFrame(ids, "doc_id", 72, 64, "png")
      .withColumn("cap_doc", col("media_id"))
    // image-dup wave: same picture re-encoded, FRESH caption
    val imageDups = P.fixtureFrame(ids.filter(col("doc_id") % 3 === 0),
        "doc_id", 144, 128, "bmp", shift = 3, idOffset = 100000L)
      .withColumn("cap_doc", col("media_id") - 100000L + 24L)
    // text-dup wave: fresh picture, caption EQUAL to the original's
    val textDups = P.fixtureFrame(ids.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 500L).as("doc_id")),
        "doc_id", 72, 64, "png", idOffset = 200000L - 500L)
      .withColumn("cap_doc", col("media_id") - 200000L)
    val pairs = originals.unionByName(imageDups).unionByName(textDups)
      .withColumnRenamed("media_id", "pair_id")
      .join(d.select(col("doc_id").as("cap_doc"),
        col("text").as("caption")), Seq("cap_doc"))
      .withColumn("meta", to_json(struct(col("pair_id").as("id"),
        col("caption"))))
    graft.multimodal.TarShards.writeTarShards(pairs, "pair_id",
      "payload", s"$base/shards", shardBytes = 65536L,
      metaCol = Some("meta"))
    val imported = graft.multimodal.TarShards
      .readTarShards(s, s"$base/shards")
      .select(col("key").cast("long").as("pair_id"), col("payload"),
        get_json_object(col("meta_json"), "$.caption").as("caption"))
      .localCheckpoint() // both modality passes read it
    d.unpersist(blocking = true) // nothing below touches the docs scan
    val (imgPairs, txtPairs) = graft.operators.Concurrent.inParallel(
      P.imageNearDups(imported, "pair_id", "payload")
        .localCheckpoint(),
      // minhashNearDups materializes internally (localCheckpoint)
      Dedup.minhashNearDups(
        imported.select(col("pair_id"), col("caption")), "pair_id",
        "caption", shingleSize = 7, threshold = 0.95))
    val edges = imgPairs.select(col("pair_id_a"), col("pair_id_b"))
      .unionByName(txtPairs.select(col("pair_id_a"), col("pair_id_b")))
    val clusters = graft.operators.Components.assignClusters(
      imported.select(col("pair_id")), "pair_id", edges,
      "pair_id_a", "pair_id_b")
    (imported, imgPairs, txtPairs, clusters)
  }

  /** Token-budget corpus selection under the gate (q181): keep the
    * LONGEST documents until they hold 60% of total corpus chars —
    * [[graft.functions.Sampling.massBudgetSelect]] over the
    * range-exchange prefix sum (no global window), boundary row kept,
    * exact integer boundary (`cum·10 < tot·6`). The oracle restates
    * the exclusive window sum and the same integer comparison. */
  def massBudgetQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.massBudgetSelect(
        docs(s, dir).select(col("doc_id"), col("n_chars")),
        "doc_id", "n_chars", "n_chars", fracNum = 6, fracDen = 10)
      .select(col("doc_id"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Per-LANGUAGE token-budget selection under the gate (q182): every
    * language independently keeps its longest docs until 50% of ITS
    * chars — the per-domain budget practice (a global budget lets one
    * huge domain starve the rest). One grouped range-exchange prefix
    * sum; the oracle restates the PARTITION BY window and the integer
    * boundary. */
  def massBudgetByLangQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.massBudgetSelectBy(
        docs(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        Seq("lang"), "doc_id", "n_chars", "n_chars",
        fracNum = 1, fracDen = 2)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** STREAMING tar-shard export under the gate (q177): the corpus
    * lands in three waves; each micro-batch ships as its own
    * `batch_id=N` shard directory through
    * [[graft.multimodal.TarShards.streamExportAvailableNow]] (the
    * continuous-crawl production shape — shards ship as batches
    * complete, no global repack), with a no-data replay drain that
    * must add nothing. The glob re-import must reproduce every
    * payload byte exactly once across ALL batch directories — the
    * q172 identity oracle verbatim. */
  def tarStreamExportQ(s: SparkSession, dir: String): DataFrame =
    graft.queries.PipelineQueries.withTempDir("graft_q177") { base =>
      val src = s"$base/landing"
      val payloads = docs(s, dir)
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      val third = col("doc_id") % 3
      // three staged waves, one lifecycle (one micro-batch each, own
      // batch_id shard dir); replay safety is StreamReplaySpec's pin
      graft.streaming.StreamWaves.stage(src, (0 to 2).map(w =>
        payloads.filter(third === w)))
      val n = graft.multimodal.TarShards.streamExportAvailableNow(
        s, src, payloads.schema, "doc_id", "payload",
        s"$base/shards", s"$base/ckpt", shardBytes = 65536L)
      require(n == 3, s"tarStreamExportQ: expected 3 micro-batches, ran $n")
      graft.multimodal.TarShards.readTarShards(s, s"$base/shards/batch_id=*")
        .select(col("key").cast("long").as("doc_id"),
          length(col("payload")).cast("long").as("n_bytes"),
          md5(col("payload")).as("payload_md5"))
        .orderBy(col("doc_id"))
        .localCheckpoint()
    }

  /** Temperature-sampled mixture allocation under the gate (q189): a
    * 10000-draw budget split across languages with weight
    * floor(sqrt(n)) — the alpha=1/2 multilingual rebalance — by
    * largest-remainder apportionment, through
    * [[graft.functions.Sampling.temperatureAllocation]]. Everything
    * after the isqrt is exact integer arithmetic, so the oracle
    * restates the quota division, the remainder ranking, and the
    * leftover hand-out digit for digit. */
  def temperatureAllocQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Sampling.temperatureAllocation(
        docs(s, dir).select(col("doc_id"), col("lang")), "lang",
        budget = 10000L)
      .orderBy(col("lang"))

  /** Graded retrieval evaluation under the gate (q191): every 25th
    * vector queries the rest of the corpus ([[Similarity.l2TopKBatch]]
    * exact top-10), relevance = same embedding label, metrics through
    * [[graft.functions.RankEval.rankedMetrics]] — per-query n_rel /
    * n_hit / first-hit rank plus MRR and MAP as lcm(1..10)=2520-scaled
    * INTEGER numerators, so the oracle restates the whole evaluation
    * (distance chain, ranking, cumulative hits, apportioned terms) in
    * exact arithmetic with no float-summation order sensitivity. */
  def rankEvalQ(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(s, dir, "embeddings")
    // PINNED query slice: vec_id < 2000 covers every vector at the gate
    // SFs (identical output), but caps the query count at larger scale —
    // exact ground truth is queries x corpus, so an sf-scaling query set
    // makes the evaluation quadratic in sf; a pinned benchmark query set
    // keeps it linear (constant ground-truth work per corpus row)
    val qs = e.filter(col("vec_id") % 25 === 0 && col("vec_id") < 2000)
      .select(col("vec_id").as("qid"), col("embedding"), col("label"))
    val corpus = e.filter(col("vec_id") % 25 =!= 0)
    val top = Similarity.l2TopKBatch(qs, "qid", "embedding",
      corpus.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
      k = 10)
    val ranked = top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("l2_dist"), col("vec_id"))))
    val rel = qs.select(col("qid"), col("label"))
      .join(corpus.select(col("vec_id"), col("label")), Seq("label"))
      .select(col("qid"), col("vec_id"))
    graft.functions.RankEval.rankedMetrics(ranked, "qid", "vec_id", "rank",
        rel, k = 10)
      .withColumn("first_rel_rank", col("first_rel_rank").cast("long"))
      .orderBy(col("qid"))
  }

  /** Greedy max-coverage selection under the gate (q228): pick 6
    * documents (every-5th-doc candidate pool) that together cover the
    * most distinct token bigrams, via
    * [[graft.operators.Selection.greedyMaxCoverage]]. The synthetic
    * corpus's bigram vocabulary overlaps heavily across documents
    * (sf0.01: gains 94→84→76→73→58→52), so every round's pick DEPENDS
    * on the accumulated covered set — a stale gain table, a missed
    * dedup, or a tie-order slip changes the remaining picks. The
    * oracle unrolls the 6 greedy rounds as anti-join-count + argmax
    * CTEs (the q201/q222 pattern). */
  def maxCoverageQ(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).filter(col("doc_id") % 5 === 0)
      .withColumn("_toks", TextAnalysis.tokens(lower(col("text"))))
    val pairs = d.select(col("doc_id"),
      explode(QualityFilters.bigrams(col("_toks"))).as("s"))
    graft.operators.Selection.greedyMaxCoverage(pairs, "doc_id", "s", 6)
      .orderBy(col("k"))
  }

  /** q228's oracle: the greedy rounds unrolled — per round an
    * uncovered-bigram count per candidate, a (gain DESC, doc_id)
    * argmax, and the covered-set union. */
  private def maxCoverageOracle(rounds: Int): String = {
    val head =
      """WITH toks AS (
        | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        | FROM documents WHERE doc_id % 5 = 0),
        |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(t)),
        |   i -> t[i] || ' ' || t[i + 1])) AS s
        | FROM toks),
        |sh AS (SELECT DISTINCT doc_id, s FROM bg),
        |c0 AS (SELECT s FROM sh WHERE 1 = 0)""".stripMargin
    val rs = (1 to rounds).map { r =>
      s""",
         |g$r AS (SELECT sh.doc_id, count(*) AS gain FROM sh
         |  LEFT JOIN c${r - 1} ON sh.s = c${r - 1}.s
         |  WHERE c${r - 1}.s IS NULL GROUP BY sh.doc_id),
         |p$r AS (SELECT doc_id, gain FROM g$r
         |        ORDER BY gain DESC, doc_id LIMIT 1),
         |c$r AS (SELECT s FROM c${r - 1}
         |        UNION SELECT sh.s FROM sh JOIN p$r USING (doc_id))""".stripMargin
    }.mkString
    val tail = (1 to rounds).map(r =>
      s"SELECT CAST($r AS BIGINT) AS k, doc_id, CAST(gain AS BIGINT) AS gain FROM p$r")
      .mkString("\nSELECT k, doc_id, gain FROM (", "\nUNION ALL ", ") ORDER BY k")
    head + rs + tail
  }

  /** Interpolated Kneser–Ney bigram model under the gate (q233): the
    * full-corpus bigram table (916 types at sf0.01) with exact-rational
    * smoothed conditionals at D = 3/4
    * ([[graft.functions.LangModel.kneserNeyBigrams]]) — every count
    * surface rides the row (c_ab, c_a, N1+ forward/backward, type
    * total), so a discount slip, a continuation count taken over
    * OCCURRENCES instead of TYPES, or a swapped N1+ direction each
    * moves pkn_num on specific rows. Observed-continuation mass per w1
    * sums ≤ 1 with the deficit = backoff mass (sanity-checked at
    * build time). */
  def kneserNeyQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.LangModel.kneserNeyBigrams(docs(s, dir),
        "doc_id", "text")
      .orderBy(col("w1"), col("w2"))

  /** Embedding centroid alignment under the gate (q234): each label
    * cluster's quantized centroid sum against the global centroid at
    * cos ≥ 35/100 ([[graft.functions.EmbeddingDrift
    * .centroidAlignment]]). The synthetic clusters' cosines span
    * 0.07–0.50 at sf0.01, so the threshold splits the verdicts —
    * and dot/na2/nb2 ride the row as exact integers, so a quantize
    * slip, a float-summed centroid, or a squared-norm swap each move
    * specific cells. */
  def centroidAlignQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.EmbeddingDrift.centroidAlignment(
        Tables.load(s, dir, "embeddings"), "label", "embedding",
        dims = 64, tNum = 35, tDen = 100)
      .orderBy(col("label"))

  /** BPE tokenizer training under the gate (q196): 8 merges learned
    * from the documents word vocabulary through
    * [[graft.functions.Bpe.train]] — exact integer pair counts over the
    * frequency-weighted word table, (count DESC, left, right) argmax,
    * greedy-leftmost merge application as a string fold. The oracle
    * unrolls ALL 8 iterations in SQL (pair-count CTE + argmax CTE +
    * `list_reduce` fold per iteration), so every intermediate merge
    * decision is engine-checked: one drifting count or a wrong fold at
    * any depth reorders the table and breaks the hash. */
  def bpeTrainQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Bpe.train(
        graft.functions.Bpe.wordCounts(docs(s, dir), "text"),
        numMerges = 8)
      .orderBy(col("rank"))

  /** BPE tokenizer APPLICATION under the gate (q197): the q196 merge
    * table (8 collected rows — bounded driver state) applied in rank
    * order to every distinct word via [[graft.functions.Bpe
    * .applyMerges]] — one nested greedy fold per merge. The oracle
    * carries each word through the same unrolled training chain and
    * reads the final token state, so the engine's re-tokenization must
    * land exactly where the oracle's iterative state evolution does. */
  def bpeTokenizeQ(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Bpe
    // one corpus scan: training and tokenization share the checkpointed
    // word table (and with it one definition of the word rule)
    val wc = Bpe.wordCounts(docs(s, dir), "text").localCheckpoint()
    val merges = Bpe.train(wc, 8).orderBy(col("rank")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    wc.select(col("word"),
        Bpe.applyMerges(col("s"), merges).as("tokens"))
      .orderBy(col("word"))
  }

  /** The q200 vocabulary, shared verbatim by the Spark query and the
    * DuckDB oracle: every letter except `j` as both start and `##`
    * continuation (so `join` exercises the whole-word UNK path), plus
    * multi-character units that make the greedy longest-match visible
    * (`table` → `|ta|##ble`, not five characters). */
  private val wpVocab: Seq[String] = {
    val letters = ('a' to 'z').filter(_ != 'j').map(_.toString)
    letters ++ letters.map("##" + _) ++ Seq(
      "ta", "##ble", "##ab", "wind", "##ow", "cust", "##omer", "##ome",
      "sc", "##an", "st", "##ream", "##rea", "co", "##lumn", "fast",
      "##er", "##ter", "fil", "qu", "##ery", "va", "##lue", "##al",
      "the", "##he", "gr", "##oup", "sp", "##ark", "me", "##rge",
      "or", "##der", "##rt", "ba", "##tch", "##ch")
  }

  /** WordPiece APPLICATION under the gate (q200): every distinct corpus
    * word segmented greedy-longest-match-first against [[wpVocab]]
    * through the codegen'd hash-set kernel
    * ([[graft.functions.WordPiece.applyVocab]]). The oracle replays the
    * exact walk in SQL: a per-(word, position) longest-match table
    * (non-recursive join against the vocab), then a recursive CTE
    * stepping positions greedily — one wrong match length or a missed
    * UNK collapse anywhere breaks the hash. */
  def wordpieceQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Bpe.wordCounts(docs(s, dir), "text")
      .select(col("word"),
        graft.functions.WordPiece.applyVocab(col("word"), wpVocab)
          .as("tokens"))
      .orderBy(col("word"))

  /** The q203 scored vocabulary, shared verbatim by the Spark query and
    * the DuckDB oracle. Singles at 5 (no `q`, so `query` exercises the
    * UNK path); multi-char units scored so the DP genuinely arbitrates —
    * several words have equal-score segmentations (`or` = `o`+`r`)
    * resolving through the longest-token backtrack rule, and some long
    * tokens LOSE to two shorter ones. */
  private val ugVocab: Seq[(String, Long)] = {
    val singles = ('a' to 'z').filter(_ != 'q').map(c => c.toString -> 5L)
    singles ++ Seq(
      "ta" -> 12L, "tab" -> 18L, "le" -> 11L, "ble" -> 16L,
      "or" -> 10L, "der" -> 15L, "er" -> 10L, "st" -> 11L, "ream" -> 22L,
      "sc" -> 11L, "an" -> 10L, "co" -> 11L, "lumn" -> 22L,
      "cust" -> 22L, "omer" -> 21L, "me" -> 10L, "rge" -> 16L,
      "in" -> 10L, "win" -> 16L, "dow" -> 16L, "val" -> 16L, "ue" -> 11L,
      "tor" -> 16L, "the" -> 17L, "he" -> 10L, "ha" -> 10L, "sh" -> 10L,
      "ba" -> 10L, "tch" -> 16L, "fil" -> 15L, "ter" -> 15L,
      "gr" -> 10L, "oup" -> 16L, "ro" -> 10L, "ow" -> 11L,
      "sp" -> 10L, "ar" -> 10L, "rk" -> 10L, "sm" -> 10L, "all" -> 16L,
      "da" -> 10L, "at" -> 10L, "jo" -> 10L, "oin" -> 15L,
      "key" -> 17L, "ke" -> 10L, "ey" -> 10L, "li" -> 10L, "ne" -> 10L,
      "pa" -> 10L, "rt" -> 10L, "du" -> 10L, "up" -> 10L, "ag" -> 10L)
  }

  /** Unigram/Viterbi tokenization under the gate (q203): every distinct
    * corpus word segmented to its maximum-total-score path through
    * [[graft.functions.Unigram.applyVocab]] (maxWordChars = 12, matching
    * the oracle's DP unroll depth). The oracle replays the ENTIRE
    * Viterbi algorithm in SQL: the match grid, 12 unrolled dp layers
    * (max over tokens ending at each prefix length), the per-position
    * longest-consistent-token back-pointer table, and a recursive
    * reconstruction walk — a one-point dp drift or a wrong tie-break
    * anywhere changes a token string and breaks the hash. */
  def unigramQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Bpe.wordCounts(docs(s, dir), "text")
      .select(col("word"),
        graft.functions.Unigram.applyVocab(col("word"), ugVocab,
          maxWordChars = 12).as("tokens"))
      .orderBy(col("word"))

  /** Vocabulary utility/pruning under the gate (q204): the q203
    * segmentation's frequency-weighted token-usage counts with the
    * exact share>=1/50 keep verdict, through
    * [[graft.functions.Unigram.vocabUtility]] — the oracle extends the
    * full Viterbi chain with the explode + weighted count, so the
    * utilities double-check every segmentation path too. */
  def vocabUtilityQ(s: SparkSession, dir: String): DataFrame =
    graft.functions.Unigram.vocabUtility(
        graft.functions.Bpe.wordCounts(docs(s, dir), "text"),
        "word", "freq", ugVocab, shareDen = 50, maxWordChars = 12)
      .orderBy(col("token"))

  private val cosExpr =
    """list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
      | / greatest(
      |   sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))) *
      |   sqrt(list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))), 1e-12)""".stripMargin

  /** q32's oracle: the 4 seed-derived hyperplanes are data-independent
    * constants, so the SQL inlines them verbatim and recomputes bucket
    * codes + the hamming-1 probe set natively (DuckDB's sequential
    * list_sum accumulation matches DotProductExpr bit-for-bit, so the
    * sign tests agree). Built programmatically to avoid hand-copying 256
    * doubles. */
  private def annOracle: String = {
    val planes = Similarity.hyperplanes(4, 64)
    def planeDot(tbl: String, p: Seq[Double]): String = {
      val lit = p.map(_.toString).mkString("[", ", ", "]::DOUBLE[]")
      s"list_sum(list_transform(range(1, 65), i -> $tbl.embedding[i]::DOUBLE * ($lit)[i]))"
    }
    def code(tbl: String): String =
      planes.zipWithIndex.map { case (p, i) =>
        s"(CASE WHEN ${planeDot(tbl, p)} > 0 THEN ${1L << i} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    s"""WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |probe AS (SELECT ${code("b")} AS qcode FROM b)
       |SELECT a.vec_id, $cosExpr AS cosine_sim
       |FROM embeddings a, b, probe
       |WHERE ${code("a")} IN
       | (qcode, xor(qcode, 1), xor(qcode, 2), xor(qcode, 4), xor(qcode, 8))
       |ORDER BY cosine_sim DESC, a.vec_id LIMIT 10""".stripMargin
  }

  /** Portable token hash: identical value in both engines (the seam
    * Hash60Expr.hash60 implements natively). */
  private val hash60Sql = "('0x' || substring(md5(t), 1, 15))::BIGINT"

  /** Portable 60-bit simhash of a token-hash list column `hs`. */
  private def simhashSql(hs: String): String =
    s"""CAST(coalesce(list_sum(list_transform(range(0, 60), b ->
       | CASE WHEN coalesce(list_sum(list_transform($hs,
       |   h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)), 0) > 0
       |  THEN (1::BIGINT << b) ELSE 0::BIGINT END)), 0) AS BIGINT)""".stripMargin

  /** Squared-L2 distance between an embedding and a centroid list (SQL). */
  private def distSql(vec: String, cent: String): String =
    s"list_sum(list_transform(range(1, 65), i -> ($vec[i]::DOUBLE - $cent[i]) * ($vec[i]::DOUBLE - $cent[i])))"

  /** The portable Lloyd training unrolled as a CTE chain over a relation
    * `$src(vec_id, embedding)`: md5-ordered bounded sample, init = k
    * lowest-id sample rows, `iters` assign+mean rounds with id-ordered
    * sequential sums and floor-quantized centroids. Leaves `c$iters` as the
    * trained centroid relation and `$src` untouched for downstream CTEs.
    * Every arithmetic step mirrors Similarity.ivfCentroidsTrainedPortable
    * bit-for-bit (sequential list_sum ≡ left-to-right accumulation;
    * ties → lowest cell). Shared by the q42 and q76 oracles. */
  /** DuckDB CTE block restating [[graft.expressions.BpeTokenCountExpr]]'s
    * greedy longest-match subword count per `groupCol` over `documents`
    * — the SAME embedded vocabulary (BpeTokenCountExpr.vocabulary is the
    * single source of truth; the VALUES list is generated from it), the
    * same token classes, the same maximal-munch rule stated as a
    * recursive CTE: per distinct alnum run, repeatedly strip the longest
    * vocabulary unit prefixing the rest (all 36 single chars are units,
    * so the recursion always terminates with rest = ''). Non-alnum
    * pieces count 1. Yields `bpe_counts(groupCol, n_bpe_tokens)`; the
    * enclosing WITH must be RECURSIVE. */
  /** The embedded vocabulary as SQL VALUES rows — generated from the SAME
    * object the Spark kernels read, one source of truth (q95/q99/q113). */
  private def bpeVocabValues: String =
    graft.expressions.BpeTokenCountExpr.vocabulary
      .map(v => s"('$v')").mkString(",")

  private def bpeCtes(groupCol: String): String = {
    val values = bpeVocabValues
    s"""bpe_vocab(v) AS (VALUES $values),
       |bpe_pieces AS (
       | SELECT $groupCol, unnest(regexp_extract_all(lower(text),
       |   '[a-z0-9]+|[^a-z0-9\\s]')) AS piece
       | FROM documents),
       |bpe_words(w) AS (
       | SELECT DISTINCT piece FROM bpe_pieces
       | WHERE regexp_matches(piece, '^[a-z0-9]')),
       |bpe_split(w, rest, cnt) AS (
       | SELECT w, w, 0 FROM bpe_words
       | UNION ALL
       | SELECT w,
       |  substr(rest, (SELECT max(length(v)) FROM bpe_vocab
       |                WHERE starts_with(rest, v)) + 1),
       |  cnt + 1
       | FROM bpe_split WHERE rest <> ''),
       |bpe_wc AS (SELECT w AS piece, cnt AS n_units FROM bpe_split
       |           WHERE rest = ''),
       |bpe_counts AS (
       | SELECT p.$groupCol,
       |  CAST(sum(CASE WHEN regexp_matches(p.piece, '^[a-z0-9]')
       |    THEN wc.n_units ELSE 1 END) AS BIGINT) AS n_bpe_tokens
       | FROM bpe_pieces p LEFT JOIN bpe_wc wc USING (piece)
       | GROUP BY p.$groupCol)""".stripMargin
  }

  private def lloydCtes(src: String, k: Int, iters: Int,
                        sampleN: Int): String = {
    val iterCtes = (1 to iters).map { t =>
      s"""a$t AS (
         | SELECT vec_id, embedding, cell FROM (
         |  SELECT s.vec_id, s.embedding, c.cell,
         |   row_number() OVER (PARTITION BY s.vec_id
         |     ORDER BY ${distSql("s.embedding", "c.v")}, c.cell) AS rk
         |  FROM s, c${t - 1} c) WHERE rk = 1),
         |m$t AS (
         | SELECT cell, count(*) AS n, list(embedding ORDER BY vec_id) AS vs
         | FROM a$t GROUP BY cell),
         |c$t AS (
         | SELECT c.cell,
         |  CASE WHEN m.cell IS NULL THEN c.v
         |   ELSE list_transform(range(1, 65), i ->
         |    floor(list_sum(list_transform(m.vs, v -> v[i]::DOUBLE)) / m.n * 1e6) / 1e6)
         |  END AS v
         | FROM c${t - 1} c LEFT JOIN m$t m ON c.cell = m.cell)""".stripMargin
    }.mkString(",\n")
    s"""samp AS (
       | SELECT vec_id, embedding,
       |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       | FROM $src),
       |s AS (SELECT vec_id, embedding FROM samp WHERE rn <= $sampleN),
       |c0 AS (
       | SELECT row_number() OVER (ORDER BY vec_id) AS cell,
       |  list_transform(embedding, x -> x::DOUBLE) AS v
       | FROM (SELECT vec_id, embedding FROM s ORDER BY vec_id LIMIT $k)),
       |$iterCtes""".stripMargin
  }

  /** q42's oracle: the Lloyd chain over the embeddings table, then cell
    * assignment over the full table and a 4-probe cosine top-10 (mirrors
    * Similarity.ivfTopK). */
  private def ivfOracle(): String = {
    val (k, iters, sampleN, nProbe) = (16, 3, 4096, 4)
    def dist(vec: String, cent: String): String = distSql(vec, cent)
    s"""WITH ${lloydCtes("embeddings", k, iters, sampleN)},
       |qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
       |probe AS (
       | SELECT c.cell FROM c$iters c, qv
       | ORDER BY ${dist("qv.embedding", "c.v")}, c.cell LIMIT $nProbe),
       |assign AS (
       | SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${dist("e.embedding", "c.v")}, c.cell) AS rk
       |  FROM embeddings e, c$iters c) WHERE rk = 1)
       |SELECT a.vec_id, $cosExpr AS cosine_sim
       |FROM assign a, qv b
       |WHERE a.cell IN (SELECT cell FROM probe)
       |ORDER BY cosine_sim DESC, a.vec_id LIMIT 10""".stripMargin
  }

  /** q76's oracle: the Lloyd chain over the embedding CLONE corpus, cell
    * assignment over the full corpus, then the SemDeDup greedy min-id rule
    * — a vector keeps iff no lower-id same-cell neighbor sits at cosine ≥
    * threshold (mirrors Similarity.semanticDedup; same cosExpr
    * accumulation, ties → lowest cell). */
  private def semanticDedupOracle(): String = {
    val (k, iters, sampleN, threshold) = (16, 3, 4096, 0.99)
    s"""WITH corp AS (
       | SELECT vec_id, embedding FROM embeddings
       | UNION ALL SELECT vec_id + 100000, embedding FROM embeddings),
       |${lloydCtes("corp", k, iters, sampleN)},
       |assign AS (
       | SELECT vec_id, embedding, cell FROM (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |   row_number() OVER (PARTITION BY e.vec_id
       |     ORDER BY ${distSql("e.embedding", "c.v")}, c.cell) AS rk
       |  FROM corp e, c$iters c) WHERE rk = 1),
       |dropped AS (
       | SELECT DISTINCT b.vec_id
       | FROM assign a JOIN assign b
       |  ON a.cell = b.cell AND a.vec_id < b.vec_id
       | WHERE $cosExpr >= $threshold::DOUBLE)
       |SELECT a.vec_id, CAST(a.cell AS INT) AS cell,
       | d.vec_id IS NULL AS keep
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id
       |ORDER BY a.vec_id""".stripMargin
  }

  /** DuckDB restatement of the PII pass: the SAME pattern literals
    * (interpolated from [[Pii]], so the two engines can never drift) in the
    * same replacement order. */
  private def piiRedactSql(c: String): String =
    s"""regexp_replace(regexp_replace(regexp_replace($c,
       |   '${Pii.emailPattern}', '<EMAIL>', 'g'),
       |  '${Pii.phonePattern}', '<PHONE>', 'g'),
       | '${Pii.ipv4Pattern}', '<IP>', 'g')""".stripMargin

  /** Fixed-width 5-token lines of a token-list expression (plain strings). */
  private def lineListSql(toks: String): String =
    s"""list_transform(range(0, CAST(ceil(len($toks) / 5.0) AS BIGINT)),
       |  i -> array_to_string($toks[i*5+1 : i*5+5], ' '))""".stripMargin

  /** Fixed-width token lines as (line_idx, line) structs (posexplode). */
  private def lineStructsSql(toks: String): String =
    s"""list_transform(range(0, CAST(ceil(len($toks) / 5.0) AS BIGINT)),
       |  i -> struct_pack(line_idx := i,
       |    line := array_to_string($toks[i*5+1 : i*5+5], ' ')))""".stripMargin

  /** Distinct word 8-gram shingles with the short-document fallback (one
    * all-tokens shingle), mirroring Dedup.wordShingles. */
  private def shinglesSql(toks: String): String =
    s"""list_distinct(CASE WHEN len($toks) >= 8
       |  THEN list_transform(range(1, len($toks) - 6),
       |    i -> array_to_string($toks[i : i+7], ' '))
       |  ELSE [array_to_string($toks, ' ')] END)""".stripMargin

  /** The hashed-linear-model mean logit of a token list (q69/q71): the
    * portable 60-bit hash into 1024 buckets, Knuth mix onto dyadic
    * rationals, sequential list_sum ≡ the engine's left-to-right
    * aggregate(). */
  private def logitSql(toks: String): String =
    s"""coalesce(list_sum(list_transform($toks, t ->
       |   ((($hash60Sql % 1024) * 2654435761) % 4096 - 2048)::DOUBLE
       |    / 2048.0::DOUBLE)), 0.0::DOUBLE)
       | / greatest(len($toks), 1)::DOUBLE""".stripMargin

  /** Adjacent-token bigram list (q70/q71). */
  private def bigramsSql(toks: String): String =
    s"""CASE WHEN len($toks) >= 2 THEN list_transform(range(1, len($toks)),
       |  i -> $toks[i] || ' ' || $toks[i+1]) ELSE []::VARCHAR[] END""".stripMargin

  /** Most-frequent-bigram fraction: the oracle recounts ALL-PAIRS (each
    * distinct bigram refiltered against the list), deliberately a different
    * algorithm than the engine's sorted run-length walk — the exact integer
    * counts must still agree. */
  private def topBigramFracSql(bg: String): String =
    s"""coalesce(list_max(list_transform(list_distinct($bg),
       |  b -> len(list_filter($bg, x -> x = b)))), 0)::DOUBLE
       | / greatest(len($bg), 1)::DOUBLE""".stripMargin

  /** Shared DuckDB CTE prelude for the SPARSE typo corpus — the SQL twin
    * of [[typoNamesSparse]], interpolated into every oracle that reads
    * it so the two restatements can never drift apart. Emits CTEs `b0`
    * and `n(doc_id, name)`. */
  private[queries] val sparseTypoCte: String =
    """b0 AS (
      | SELECT doc_id,
      |  'e' || substring(md5(CAST(doc_id % 199 AS VARCHAR)), 1, 6) AS b
      | FROM documents),
      |n AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 1 THEN substring(b, 1, length(b) - 1)
      |       WHEN doc_id % 5 = 2 THEN b || 'x'
      |       WHEN doc_id % 5 = 3 THEN 'x' || substring(b, 2, length(b))
      |       ELSE b END AS name
      | FROM b0)""".stripMargin

  /** The DENSE 40-entity twin of [[typoNames]] (q122/q123). */
  private[queries] val denseTypoCte: String =
    """b0 AS (
      | SELECT doc_id,
      |  'entity ' || CAST(doc_id % 40 AS VARCHAR) AS b FROM documents),
      |n AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 1 THEN substring(b, 1, length(b) - 1)
      |       WHEN doc_id % 5 = 2 THEN b || 'x'
      |       WHEN doc_id % 5 = 3 THEN 'x' || substring(b, 2, length(b))
      |       ELSE b END AS name
      | FROM b0)""".stripMargin

  /** The SQL twin of [[titleTokens]] — CTE `t(doc_id, toks)`. */
  private val titleTokensCte: String =
    """t AS (
      | SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 1 THEN [b[1], b[3], b[4]]
      |       WHEN doc_id % 5 = 2 THEN list_append(b, 'zz')
      |       WHEN doc_id % 5 = 3 THEN list_prepend(
      |         'q' || CAST((doc_id % 199) % 11 AS VARCHAR), b[2:4])
      |       ELSE b END AS toks
      | FROM (SELECT doc_id,
      |   ['w' || CAST((doc_id % 199) % 13 AS VARCHAR),
      |    'w' || CAST((doc_id % 199) % 17 AS VARCHAR),
      |    'w' || CAST((doc_id % 199) % 19 AS VARCHAR),
      |    'w' || CAST((doc_id % 199) % 23 AS VARCHAR)] AS b
      |   FROM documents))""".stripMargin

  /** DuckDB restatement of the prefix+suffix cover identity for token
    * edit distance ≤ 1 between `$a.toks` and `$b.toks`. `nullif(·, 0)`
    * because DuckDB's `list_position` returns 0 (not NULL) when absent. */
  private def tokenLev1Sql(a: String, b: String): String =
    s"""abs(len($a.toks) - len($b.toks)) <= 1
       |  AND (CASE WHEN least(len($a.toks), len($b.toks)) <= 0 THEN 0
       |        ELSE coalesce(nullif(list_position(list_transform(
       |          range(1, least(len($a.toks), len($b.toks)) + 1),
       |          i -> $a.toks[i] IS NOT DISTINCT FROM $b.toks[i]), false),
       |          0) - 1, least(len($a.toks), len($b.toks))) END)
       |    + (CASE WHEN least(len($a.toks), len($b.toks)) <= 0 THEN 0
       |        ELSE coalesce(nullif(list_position(list_transform(
       |          range(1, least(len($a.toks), len($b.toks)) + 1),
       |          i -> $a.toks[len($a.toks)-i+1]
       |            IS NOT DISTINCT FROM $b.toks[len($b.toks)-i+1]), false),
       |          0) - 1, least(len($a.toks), len($b.toks))) END)
       |    >= greatest(len($a.toks), len($b.toks)) - 1""".stripMargin

  /** SQL twin of [[graft.functions.LangModel.surprisalReport]]'s integer
    * core — CTE chain ending in `r(doc_id, n_tokens, sum_bits)` (shared
    * by q75 and the q135 pruning gate). */
  private val surprisalCte: String =
    s"""tp AS (
       | SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
       | FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM tp
       |       GROUP BY doc_id, term),
       |cnts AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf
       |         GROUP BY term),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnts),
       |agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
       |  CAST(sum(tf * (length(bin(n_total)) - length(bin(cnt)))) AS BIGINT)
       |    AS sum_bits
       | FROM tf JOIN cnts USING (term), tot GROUP BY doc_id),
       |r AS (SELECT d.doc_id,
       |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(sum_bits, 0) AS BIGINT) AS sum_bits
       | FROM documents d LEFT JOIN agg USING (doc_id))""".stripMargin

  /** The shared q167/q185 evaluation WITH-chain (approx serving + exact
    * ground truth + per-qid hit counts) — ONE definition so the overall
    * and the per-label gates can never drift apart. */
  private val ivfPqEvalWith: String =
    """WITH sm AS (SELECT vec_id, embedding,
      |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
      |    vec_id) AS rn
      | FROM embeddings),
      |c0 AS (SELECT vec_id, embedding,
      |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
      | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
      |       ORDER BY vec_id LIMIT 8)),
      |assign AS (SELECT vec_id, embedding, cell0 FROM (
      |  SELECT v.vec_id, v.embedding, c.cell0,
      |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |     list_sum(list_transform(range(1, 65), i ->
      |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
      |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
      |     c.cell0) AS rk
      |  FROM embeddings v, c0 c) WHERE rk = 1),
      |rv AS (SELECT a.vec_id, a.cell0,
      |  list_transform(range(1, 65), i ->
      |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
      | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
      |cbr AS (SELECT
      |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
      | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
      |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
      |sp AS (SELECT unnest(range(0, 8)) AS s),
      |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
      |  list_sum(list_transform(range(1, 9), i ->
      |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
      |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
      | FROM rv, sp, cbr),
      |best AS (SELECT vec_id, cell0, s, cid FROM (
      |  SELECT vec_id, cell0, s, cid,
      |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
      |  FROM d) WHERE rk = 1),
      |qs AS (SELECT vec_id AS qid, embedding FROM embeddings
      |       WHERE vec_id % 199 = 0),
      |probe AS (SELECT qid, cell0 FROM (
      |  SELECT q.qid, c.cell0,
      |   row_number() OVER (PARTITION BY q.qid ORDER BY
      |     list_sum(list_transform(range(1, 65), i ->
      |       (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
      |       * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
      |     c.cell0) AS rk
      |  FROM c0 c, qs q) WHERE rk <= 4),
      |lut AS (SELECT p.qid, p.cell0, sp.s, cbr.cid,
      |  list_sum(list_transform(range(1, 9), i ->
      |    ((q.embedding[8*sp.s + i]::DOUBLE
      |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])
      |    * ((q.embedding[8*sp.s + i]::DOUBLE
      |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])))
      |    AS dd
      | FROM probe p JOIN qs q ON q.qid = p.qid
      |   JOIN c0 c ON c.cell0 = p.cell0
      |   CROSS JOIN sp CROSS JOIN cbr),
      |pervec AS (SELECT l.qid, b.vec_id,
      |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
      | FROM best b JOIN lut l
      |   ON l.cell0 = b.cell0 AND l.s = b.s AND l.cid = b.cid
      | GROUP BY l.qid, b.vec_id),
      |ap AS (SELECT qid, vec_id FROM (
      |  SELECT qid, vec_id,
      |   row_number() OVER (PARTITION BY qid
      |     ORDER BY adc_dist, vec_id) AS rk
      |  FROM pervec) WHERE rk <= 10),
      |ex AS (SELECT qid, vec_id FROM (
      |  SELECT q.qid, v.vec_id,
      |   row_number() OVER (PARTITION BY q.qid ORDER BY
      |     list_sum(list_transform(range(1, 65), i ->
      |       (v.embedding[i]::DOUBLE - q.embedding[i]::DOUBLE)
      |       * (v.embedding[i]::DOUBLE - q.embedding[i]::DOUBLE))),
      |     v.vec_id) AS rk
      |  FROM embeddings v, qs q) WHERE rk <= 10),
      |hits AS (SELECT ex.qid, count(*) AS n_hit
      |  FROM ex JOIN ap ON ap.qid = ex.qid AND ap.vec_id = ex.vec_id
      |  GROUP BY ex.qid)
      |""".stripMargin

  /** q196's oracle: the whole 8-iteration BPE training loop unrolled —
    * per iteration a pair-count CTE (overlapping adjacent positions,
    * frequency-weighted), the (count DESC, left, right) argmax, and the
    * greedy-leftmost merge fold as `list_reduce` over the delimited
    * token string (a freshly merged token never re-matches as the left
    * element because left||right ≠ left — the same invariant the Spark
    * fold rides). */
  private def bpeTrainCtes(n: Int): String = {
    val head =
      """WITH w0 AS (
        | SELECT word, '|' || array_to_string(string_split(word, ''), '|')
        |        AS s, count(*) AS freq
        | FROM (SELECT unnest(regexp_extract_all(lower(text), '\S+'))
        |         AS word FROM documents)
        | WHERE word <> '' AND word NOT LIKE '%|%' GROUP BY 1)""".stripMargin
    val iters = (0 until n).map { k =>
      s""",
         |t$k AS (SELECT word, s, freq,
         |  list_filter(string_split(s, '|'), x -> x <> '') AS toks
         | FROM w$k),
         |p$k AS (SELECT z[1] AS a, z[2] AS b,
         |  CAST(sum(freq) AS BIGINT) AS cnt
         | FROM t$k, unnest(list_zip(toks, toks[2:])) AS u(z)
         | WHERE z[2] IS NOT NULL GROUP BY 1, 2),
         |b$k AS (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |w${k + 1} AS (SELECT word,
         |  CASE WHEN b$k.a IS NULL THEN s
         |       ELSE list_reduce(list_prepend('', toks),
         |  (acc, x) -> CASE WHEN x = b$k.b AND ends_with(acc, '|' || b$k.a)
         |              THEN acc || x ELSE acc || '|' || x END) END AS s,
         |  freq
         | FROM t$k LEFT JOIN b$k ON TRUE)""".stripMargin
    }.mkString
    head + iters
  }

  /** q196's oracle over the 8 merges the gate trains. */
  private def bpeTrainOracle(): String = {
    val n = 8
    val sel = (0 until n).map { k =>
      (if (k > 0) "UNION ALL " else "") +
        s"""SELECT CAST(${k + 1} AS BIGINT) AS "rank", a AS "left",
           | b AS "right", a || b AS merged, cnt AS pair_count
           | FROM b$k""".stripMargin
    }.mkString("\n")
    bpeTrainCtes(n) + "\n" + sel + "\nORDER BY \"rank\""
  }

  /** q197's oracle: tokenize with the 8 trained merges. */
  private def bpeTokenizeOracle(): String =
    bpeTrainCtes(8) + "\nSELECT word, s AS tokens FROM w8 ORDER BY word"

  /** q200's oracle: the greedy longest-match walk restated — `best`
    * precomputes the longest vocabulary match at every (word, position)
    * with the `##` continuation rule, then the recursive `walk` steps
    * each word's single deterministic path; a stuck position jumps to
    * the terminal sentinel with `bad = true`, which the final SELECT
    * collapses to `|[UNK]` (whole-word semantics). */
  private def wordpieceOracle(vocab: Seq[String]): String = {
    val vocabList = vocab.map(t => s"'$t'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE
       |words AS (SELECT DISTINCT word FROM
       |  (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS word
       |   FROM documents)
       |  WHERE word <> '' AND word NOT LIKE '%|%'),
       |vocab AS (SELECT unnest($vocabList) AS tok),
       |vx AS (SELECT tok,
       |  CASE WHEN starts_with(tok, '##') THEN substr(tok, 3) ELSE tok END
       |    AS raw,
       |  starts_with(tok, '##') AS cont FROM vocab),
       |pos AS (SELECT word, unnest(range(1, length(word) + 1)) AS p
       |  FROM words),
       |best AS (SELECT p.word, p.p, max(length(v.raw)) AS l
       |  FROM pos p JOIN vx v
       |    ON v.cont = (p.p > 1)
       |    AND substr(p.word, p.p, length(v.raw)) = v.raw
       |  GROUP BY p.word, p.p),
       |walk(word, p, acc, bad) AS (
       |  SELECT word,
       |    CAST(CASE WHEN length(word) > 100 THEN length(word) + 1
       |              ELSE 1 END AS BIGINT),
       |    '', length(word) > 100
       |  FROM words
       |  UNION ALL
       |  SELECT w.word,
       |    CAST(CASE WHEN b.l IS NULL THEN length(w.word) + 1
       |              ELSE w.p + b.l END AS BIGINT),
       |    CASE WHEN b.l IS NULL THEN w.acc
       |         ELSE w.acc || '|' ||
       |           CASE WHEN w.p > 1 THEN '##' ELSE '' END ||
       |           substr(w.word, CAST(w.p AS INT), CAST(b.l AS INT)) END,
       |    b.l IS NULL
       |  FROM walk w LEFT JOIN best b ON b.word = w.word AND b.p = w.p
       |  WHERE NOT w.bad AND w.p <= length(w.word))
       |SELECT word, CASE WHEN bad THEN '|[UNK]' ELSE acc END AS tokens
       |FROM walk WHERE p = length(word) + 1
       |ORDER BY word""".stripMargin
  }

  /** q203's oracle: the whole Viterbi DP in SQL. `m` is the match grid
    * (every vocabulary token at every start position of every word);
    * `d1..dW` unroll the forward recurrence `dp[e] = max(dp[s-1] +
    * score)` over tokens ending at prefix length e (with `u_k` the
    * running union of dp layers); `bp` picks the LONGEST token
    * consistent with the optimal value at each position (the kernel's
    * backtrack tie-break); the recursive `walk` rebuilds the token
    * string from the end; words with no full path (or longer than the
    * unroll depth) collapse to `|[UNK]`. */
  private def unigramOracle(vocab: Seq[(String, Long)], w: Int): String =
    unigramCtes(vocab, w) +
      """
        |SELECT w.word, COALESCE(r.acc, '|[UNK]') AS tokens
        |FROM words w LEFT JOIN res r ON r.word = w.word
        |ORDER BY w.word""".stripMargin

  /** The shared Viterbi CTE chain (through `res(word, acc)` — complete
    * segmentations only; UNK words are absent and coalesced by the
    * final select). */
  private def unigramCtes(vocab: Seq[(String, Long)], w: Int): String = {
    val values = vocab.map { case (t, s) => s"('$t', CAST($s AS BIGINT))" }
      .mkString(", ")
    val head =
      s"""WITH RECURSIVE
         |words AS (SELECT DISTINCT word FROM
         |  (SELECT unnest(regexp_extract_all(lower(text), '\\S+')) AS word
         |   FROM documents)
         |  WHERE word <> '' AND word NOT LIKE '%|%'),
         |wv AS (SELECT word FROM words WHERE length(word) <= $w),
         |v(tok, score) AS (SELECT * FROM (VALUES $values)),
         |pos AS (SELECT word, unnest(range(1, length(word) + 1)) AS p
         |  FROM wv),
         |m AS (SELECT po.word, po.p AS s, length(v.tok) AS l, v.score,
         |    po.p + length(v.tok) - 1 AS e
         |  FROM pos po JOIN v ON substr(po.word, CAST(po.p AS INT),
         |    length(v.tok)) = v.tok
         |  WHERE po.p + length(v.tok) - 1 <= length(po.word)),
         |u0 AS (SELECT word, CAST(0 AS BIGINT) AS e, CAST(0 AS BIGINT) AS sc
         |  FROM wv)""".stripMargin
    val layers = (1 to w).map { k =>
      s""",
         |d$k AS (SELECT m.word, CAST($k AS BIGINT) AS e,
         |  max(u.sc + m.score) AS sc
         | FROM m JOIN u${k - 1} u ON u.word = m.word AND u.e = m.s - 1
         | WHERE m.e = $k GROUP BY m.word),
         |u$k AS MATERIALIZED (SELECT * FROM u${k - 1}
         |  UNION ALL SELECT * FROM d$k)"""
        .stripMargin
    }.mkString
    val tail =
      s""",
         |fin AS (SELECT u.word, u.sc FROM u$w u
         |  WHERE u.e = length(u.word)),
         |bp AS (SELECT m.word, m.e, CAST(max(m.l) AS BIGINT) AS l
         | FROM m JOIN u$w prev ON prev.word = m.word AND prev.e = m.s - 1
         |      JOIN u$w cur ON cur.word = m.word AND cur.e = m.e
         | WHERE prev.sc + m.score = cur.sc
         | GROUP BY m.word, m.e),
         |walk(word, p, acc) AS (
         | SELECT word, CAST(length(word) AS BIGINT), '' FROM fin
         | UNION ALL
         | SELECT wk.word, wk.p - b.l,
         |  '|' || substr(wk.word, CAST(wk.p - b.l + 1 AS INT),
         |    CAST(b.l AS INT)) || wk.acc
         | FROM walk wk JOIN bp b ON b.word = wk.word AND b.e = wk.p
         | WHERE wk.p > 0),
         |res AS (SELECT word, acc FROM walk WHERE p = 0)""".stripMargin
    head + layers + tail
  }

  /** q204's oracle: the q203 Viterbi chain, then every word's token list
    * exploded, weighted by the word's corpus occurrence count, and
    * aggregated to per-token usage with the exact cross-multiplied
    * keep verdict (share >= 1/50 of total segmented mass). */
  private def vocabUtilityOracle(vocab: Seq[(String, Long)], w: Int): String =
    unigramCtes(vocab, w) +
      """,
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM
        |  (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS word
        |   FROM documents)
        |  WHERE word <> '' AND word NOT LIKE '%|%' GROUP BY 1),
        |toks AS (SELECT f.freq, u.tok
        | FROM wf f LEFT JOIN res r ON r.word = f.word,
        |  unnest(list_filter(string_split(COALESCE(r.acc, '|[UNK]'), '|'),
        |    x -> x <> '')) AS u(tok)),
        |usage AS (SELECT tok AS token, CAST(sum(freq) AS BIGINT) AS usage
        | FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(usage) AS BIGINT) AS total FROM usage)
        |SELECT u.token, u.usage, (u.usage * 50 >= t.total) AS keep
        |FROM usage u CROSS JOIN tot t
        |ORDER BY u.token""".stripMargin

  val gates: Seq[Gate] = Seq(
    Gate("q204_vocab_utility", vocabUtilityQ _,
      vocabUtilityOracle(ugVocab, 12)),
    Gate("q203_unigram", unigramQ _, unigramOracle(ugVocab, 12)),
    Gate("q196_bpe_train", bpeTrainQ _, bpeTrainOracle()),
    Gate("q197_bpe_tokenize", bpeTokenizeQ _, bpeTokenizeOracle()),
    Gate("q200_wordpiece", wordpieceQ _, wordpieceOracle(wpVocab)),
    // the q141 index chain + serving: probe = 4 nearest coarse cells to
    // the query (ties -> lowest cell), per-cell LUT over the RESIDUAL
    // query, per-vector distance = s-ordered list of its LUT reads
    // summed sequentially; only probed cells are scored
    // identity through synth -> files -> binaryFile -> header parse:
    // the dims written into each BMP restated from the doc fields
    Gate("q175_binary_ingest", binaryIngestQ _,
      """SELECT doc_id, 'bmp' AS format,
        | CAST((n_chars % 640) + 1 AS INT) AS width,
        | CAST((doc_id % 480) + 1 AS INT) AS height
        |FROM documents WHERE doc_id % 10 = 0
        |ORDER BY doc_id""".stripMargin),
    // the same pairwise moment sums, same 0-based dims, same
    // floor(x·10⁶) integer quantization of identically-evaluated IEEE
    // products — BIGINT sums are order-free, so engine partitioning
    // can't move the hash
    Gate("q174_pca_moments", pcaMomentsQ _,
      """WITH idx AS (SELECT unnest(generate_series(1, 16)) AS p),
        |x AS (SELECT e.vec_id, CAST(i.p - 1 AS INT) AS i,
        |        e.embedding[i.p]::DOUBLE AS xv
        |      FROM embeddings e, idx i)
        |SELECT a.i AS i, b.i AS j, count(*) AS n,
        | CAST(sum(CAST(floor(a.xv * b.xv * 1e6) AS BIGINT)) AS BIGINT)
        |   AS sxx,
        | CAST(sum(CAST(floor(a.xv * 1e6) AS BIGINT)) AS BIGINT) AS sx,
        | CAST(sum(CAST(floor(b.xv * 1e6) AS BIGINT)) AS BIGINT) AS sy
        |FROM x a JOIN x b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY a.i, b.i ORDER BY i, j""".stripMargin),
    // the q181 rule PARTITIONed BY lang, each against its own total
    // the whole evaluation restated: sequential squared-diff list_sum
    // (l2TopKBatch's fold order), (dist, vec_id) ranking, same-label
    // relevance, cumulative-hit AP terms scaled by lcm(1..10)=2520
    Gate("q228_max_coverage", maxCoverageQ _, maxCoverageOracle(6)),
    // quantize-first exact centroid sums; cross-multiplied cosine at
    // 35/100 in HUGEINT
    Gate("q234_centroid_align", centroidAlignQ _,
      """WITH e AS (SELECT label, list_transform(embedding,
        |   x -> CAST(floor(x::DOUBLE * 1024) AS BIGINT)) AS q
        | FROM embeddings),
        |x AS (SELECT label, i AS pos, q[i] AS v FROM e,
        |      (SELECT unnest(range(1, 65)) AS i)),
        |g AS (SELECT label, pos, CAST(sum(v) AS BIGINT) AS gs,
        |      count(*) AS cnt FROM x GROUP BY label, pos),
        |gl AS (SELECT pos, CAST(sum(v) AS BIGINT) AS gv
        |       FROM x GROUP BY pos),
        |n AS (SELECT label, CAST(max(cnt) AS BIGINT) AS n
        |      FROM g GROUP BY label),
        |d AS (SELECT g.label,
        |  CAST(sum(g.gs * gl.gv) AS BIGINT) AS dot,
        |  CAST(sum(g.gs * g.gs) AS BIGINT) AS na2,
        |  CAST(sum(gl.gv * gl.gv) AS BIGINT) AS nb2
        | FROM g JOIN gl USING (pos) GROUP BY g.label)
        |SELECT d.label, n.n, d.dot, d.na2, d.nb2,
        | (d.dot >= 0 AND CAST(d.dot AS HUGEINT) * d.dot * 100 * 100 >=
        |   CAST(d.na2 AS HUGEINT) * d.nb2 * 35 * 35) AS aligned
        |FROM d JOIN n USING (label) ORDER BY d.label""".stripMargin),
    // exact-rational interpolated KN at D=3/4: max(4c-3,0)*T + 3*fwd*back
    // over 4*c_a*T; continuation counts are TYPE counts
    Gate("q233_kneser_ney", kneserNeyQ _,
      """WITH toks AS (SELECT doc_id,
        |  regexp_extract_all(lower(text), '\S+') AS t FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(t)),
        |   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p FROM toks),
        |pc AS (SELECT p.w1 AS w1, p.w2 AS w2,
        |       CAST(count(*) AS BIGINT) AS c_ab FROM bg GROUP BY 1, 2),
        |a AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a,
        |      CAST(count(*) AS BIGINT) AS n1p_fwd FROM pc GROUP BY w1),
        |b AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1p_back
        |      FROM pc GROUP BY w2),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_types FROM pc)
        |SELECT w1, w2, c_ab, c_a, n1p_fwd, n1p_back, n_types,
        | CAST(greatest(c_ab * 4 - 3, 0) * n_types
        |   + 3 * n1p_fwd * n1p_back AS BIGINT) AS pkn_num,
        | CAST(4 * c_a * n_types AS BIGINT) AS pkn_den
        |FROM pc JOIN a USING (w1) JOIN b USING (w2), t
        |ORDER BY w1, w2""".stripMargin),
    Gate("q191_rank_eval", rankEvalQ _,
      """WITH q AS (SELECT vec_id AS qid, embedding, label
        | FROM embeddings WHERE vec_id % 25 = 0 AND vec_id < 2000),
        |c AS (SELECT vec_id, embedding, label FROM embeddings
        |      WHERE vec_id % 25 <> 0),
        |d AS (SELECT q.qid, c.vec_id,
        |  list_sum(list_transform(range(1, 65), i ->
        |    (c.embedding[i]::DOUBLE - q.embedding[i]::DOUBLE)
        |    * (c.embedding[i]::DOUBLE - q.embedding[i]::DOUBLE)))
        |    AS dist
        | FROM q, c),
        |r AS (SELECT qid, vec_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id)
        |    AS rnk FROM d),
        |top AS (SELECT * FROM r WHERE rnk <= 10),
        |rel AS (SELECT q.qid, c.vec_id FROM q
        |        JOIN c ON q.label = c.label),
        |marked AS (SELECT t.qid, t.rnk,
        |  CASE WHEN rel.vec_id IS NOT NULL THEN 1 ELSE 0 END AS rel
        | FROM top t LEFT JOIN rel
        |   ON rel.qid = t.qid AND rel.vec_id = t.vec_id),
        |cum AS (SELECT qid, rnk, rel,
        |  sum(rel) OVER (PARTITION BY qid ORDER BY rnk) AS cum_rel
        | FROM marked),
        |pq AS (SELECT qid, CAST(sum(rel) AS BIGINT) AS n_hit,
        |  CAST(min(CASE WHEN rel = 1 THEN rnk END) AS BIGINT)
        |    AS first_rel_rank,
        |  CAST(sum(CASE WHEN rel = 1 THEN cum_rel * (2520 // rnk)
        |           ELSE 0 END) AS BIGINT) AS ap_scaled
        | FROM cum GROUP BY 1),
        |nr AS (SELECT qid, count(*) AS n_rel FROM rel GROUP BY 1)
        |SELECT pq.qid, coalesce(nr.n_rel, 0) AS n_rel, pq.n_hit,
        | pq.first_rel_rank,
        | CAST(coalesce(2520 // pq.first_rel_rank, 0) AS BIGINT)
        |   AS rr_scaled,
        | pq.ap_scaled
        |FROM pq LEFT JOIN nr USING (qid) ORDER BY qid""".stripMargin),
    // floor(sqrt(n)) weights, integer quota division, largest-remainder
    // hand-out with the lang tiebreak — exact arithmetic end to end
    Gate("q189_temperature_alloc", temperatureAllocQ _,
      """WITH c AS (SELECT lang, count(*) AS n_rows,
        |  CAST(floor(sqrt(count(*))) AS BIGINT) AS weight
        | FROM documents GROUP BY 1),
        |t AS (SELECT sum(weight) AS w FROM c),
        |q AS (SELECT lang, n_rows, weight,
        |  (10000 * weight) // w AS alloc_floor,
        |  (10000 * weight) % w AS rem FROM c, t),
        |r AS (SELECT *,
        |  row_number() OVER (ORDER BY rem DESC, lang) AS rk,
        |  10000 - sum(alloc_floor) OVER () AS leftover FROM q)
        |SELECT lang, n_rows, weight,
        | CAST(alloc_floor + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
        |   AS BIGINT) AS alloc
        |FROM r ORDER BY lang""".stripMargin),
    Gate("q182_mass_budget_lang", massBudgetByLangQ _,
      """WITH w AS (SELECT doc_id, lang, n_chars,
        |  coalesce(sum(n_chars) OVER (PARTITION BY lang
        |    ORDER BY n_chars DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw,
        |  sum(n_chars) OVER (PARTITION BY lang) AS tot
        | FROM documents)
        |SELECT doc_id, lang, n_chars FROM w
        |WHERE cw * 2 < tot * 1 ORDER BY doc_id""".stripMargin),
    // exclusive prefix sum over (n_chars DESC, doc_id), boundary row
    // kept, exact integer comparison
    Gate("q181_mass_budget", massBudgetQ _,
      """WITH w AS (SELECT doc_id, n_chars,
        |  coalesce(sum(n_chars) OVER (ORDER BY n_chars DESC, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw,
        |  (SELECT sum(n_chars) FROM documents) AS tot
        | FROM documents)
        |SELECT doc_id, n_chars FROM w
        |WHERE cw * 10 < tot * 6 ORDER BY doc_id""".stripMargin),
    // streaming export identity: every payload exactly once across all
    // batch directories — the q172 oracle verbatim
    Gate("q177_tar_stream", tarStreamExportQ _,
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // identity: whatever went in must come out — size and md5 restated
    // straight off the source table
    Gate("q172_tar_roundtrip", tarRoundTripQ _,
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""".stripMargin),
    // shard = exclusive-prefix byte sum (doc_id order) // budget — the
    // packShards assignment — rolled up per shard
    Gate("q171_tar_shards", tarShardsQ _,
      """WITH b AS (SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS w
        | FROM documents),
        |c AS (SELECT doc_id, w,
        |  coalesce(sum(w) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cw
        | FROM b)
        |SELECT CAST(cw // 65536 AS BIGINT) AS shard_id,
        | CAST(count(*) AS BIGINT) AS n_samples,
        | CAST(sum(w) AS BIGINT) AS data_bytes
        |FROM c GROUP BY 1 ORDER BY shard_id""".stripMargin),
    // integer window count 1 + ceil(max(n-64,0)/48), 1-based slices of
    // the \S+ token list, md5 of the space-joined window
    Gate("q168_doc_chunks", chunkDocsQ _,
      """WITH t AS (SELECT doc_id,
        |  regexp_extract_all(text, '\S+') AS toks FROM documents),
        |n AS (SELECT doc_id, toks, len(toks) AS n FROM t
        |      WHERE len(toks) > 0),
        |k AS (SELECT doc_id, toks,
        |  unnest(range(0, 1 + (greatest(n - 64, 0) + 47) // 48))
        |    AS chunk_id
        | FROM n)
        |SELECT doc_id, chunk_id,
        | md5(array_to_string(toks[chunk_id*48+1 : chunk_id*48+64], ' '))
        |   AS chunk_md5,
        | CAST(len(toks[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT)
        |   AS n_tokens
        |FROM k ORDER BY doc_id, chunk_id""".stripMargin),
    // both evaluation chains restated: approx = the q166 per-qid serving
    // chain; exact = per-qid squared-L2 row_number; recall = one
    // integer-count double division
    Gate("q167_recall_eval", recallEvalQ _, (ivfPqEvalWith +
      """SELECT q.qid, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
        |  coalesce(h.n_hit, 0)::DOUBLE / CAST(10 AS DOUBLE) AS recall_at_k
        |FROM (SELECT DISTINCT qid FROM ex) q LEFT JOIN hits h USING (qid)
        |ORDER BY qid""".stripMargin)),
    // the same evaluation chain sliced BY LABEL: integer counts only
    // (a summed-double recall would be order-sensitive)
    Gate("q185_recall_by_label", recallByLabelQ _, (ivfPqEvalWith +
      """SELECT e2.label, CAST(count(*) AS BIGINT) AS n_queries,
        |  CAST(sum(coalesce(h.n_hit, 0)) AS BIGINT) AS total_hits
        |FROM (SELECT DISTINCT qid FROM ex) q
        |LEFT JOIN hits h USING (qid)
        |JOIN embeddings e2 ON e2.vec_id = q.qid
        |GROUP BY e2.label ORDER BY label""".stripMargin)),
    // the q147 chain generalized per-qid: probe/LUT/top-k each keyed by
    // the query id; one row_number per query replaces the global LIMIT
    Gate("q166_ivfpq_batch", ivfPqBatchQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |c0 AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 8)),
        |assign AS (SELECT vec_id, embedding, cell0 FROM (
        |  SELECT v.vec_id, v.embedding, c.cell0,
        |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM embeddings v, c0 c) WHERE rk = 1),
        |rv AS (SELECT a.vec_id, a.cell0,
        |  list_transform(range(1, 65), i ->
        |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
        |cbr AS (SELECT
        |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
        | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
        |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
        |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
        | FROM rv, sp, cbr),
        |best AS (SELECT vec_id, cell0, s, cid FROM (
        |  SELECT vec_id, cell0, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1),
        |qs AS (SELECT vec_id AS qid, embedding FROM embeddings
        |       WHERE vec_id % 199 = 0),
        |probe AS (SELECT qid, cell0 FROM (
        |  SELECT q.qid, c.cell0,
        |   row_number() OVER (PARTITION BY q.qid ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM c0 c, qs q) WHERE rk <= 4),
        |lut AS (SELECT p.qid, p.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])
        |    * ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])))
        |    AS dd
        | FROM probe p JOIN qs q ON q.qid = p.qid
        |   JOIN c0 c ON c.cell0 = p.cell0
        |   CROSS JOIN sp CROSS JOIN cbr),
        |pervec AS (SELECT l.qid, b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l
        |   ON l.cell0 = b.cell0 AND l.s = b.s AND l.cid = b.cid
        | GROUP BY l.qid, b.vec_id)
        |SELECT qid, vec_id, adc_dist FROM (
        |  SELECT qid, vec_id, adc_dist,
        |   row_number() OVER (PARTITION BY qid
        |     ORDER BY adc_dist, vec_id) AS rk
        |  FROM pervec) WHERE rk <= 10
        |ORDER BY qid, adc_dist, vec_id""".stripMargin),
    // the q147 chain (the maintained index ≡ the full encode — the
    // gate asserts that equality in-process) + per-cell occupancy from
    // the same assignment, skew ppm by truncating division, rebalance
    // by HUGEINT cross-multiplication at the 21/20 fence
    Gate("q282_ivfpq_maintain", ivfPqMaintainQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |c0 AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 8)),
        |assign AS (SELECT vec_id, embedding, cell0 FROM (
        |  SELECT v.vec_id, v.embedding, c.cell0,
        |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM embeddings v, c0 c) WHERE rk = 1),
        |rv AS (SELECT a.vec_id, a.cell0,
        |  list_transform(range(1, 65), i ->
        |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
        |cbr AS (SELECT
        |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
        | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
        |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
        |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
        | FROM rv, sp, cbr),
        |best AS (SELECT vec_id, cell0, s, cid FROM (
        |  SELECT vec_id, cell0, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |probe AS (SELECT c.cell0 FROM c0 c, q
        | ORDER BY list_sum(list_transform(range(1, 65), i ->
        |    (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |    * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), c.cell0
        | LIMIT 4),
        |lut AS (SELECT c.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])
        |    * ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])))
        |    AS dd
        | FROM c0 c, sp, cbr, q WHERE c.cell0 IN (SELECT cell0 FROM probe)),
        |pervec AS (SELECT b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l
        |   ON l.cell0 = b.cell0 AND l.s = b.s AND l.cid = b.cid
        | WHERE b.cell0 IN (SELECT cell0 FROM probe)
        | GROUP BY b.vec_id),
        |top AS (SELECT vec_id, adc_dist FROM pervec
        |        ORDER BY adc_dist, vec_id LIMIT 10),
        |cnt AS (SELECT cell0, CAST(count(*) AS BIGINT) AS n_vecs
        |        FROM assign GROUP BY 1),
        |tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total_vecs,
        |       CAST(count(*) AS BIGINT) AS n_cells FROM cnt),
        |rep AS (SELECT cell0, n_vecs, n_cells, total_vecs,
        |  CAST(n_vecs::HUGEINT * n_cells * 1000000 // total_vecs
        |    AS BIGINT) AS skew_ppm,
        |  n_vecs::HUGEINT * n_cells * 20 >= total_vecs::HUGEINT * 21
        |    AS rebalance
        | FROM cnt, tt)
        |SELECT t.vec_id, t.adc_dist, CAST(a.cell0 + 1 AS BIGINT) AS cell,
        | r.n_vecs, r.n_cells, r.total_vecs, r.skew_ppm, r.rebalance
        |FROM top t JOIN assign a USING (vec_id)
        | JOIN rep r ON r.cell0 = a.cell0
        |ORDER BY t.adc_dist, t.vec_id""".stripMargin),
    // the whole post-split chain restated from scratch: synthetic
    // clustered vectors, argmin coarse assignment, the 21/20 fence
    // picking the hot cell, iters=0 sub-centroids (the hot cell's two
    // lowest-id rows), the spliced 5-centroid table, residual PQ codes,
    // probe/ADC serve for the lobe-1 query, and the quiet post-split
    // fence — the engine's spliced index must equal this full rebuild
    Gate("q294_ivfpq_rebalance", ivfPqRebalanceQ _,
      """WITH ids AS (SELECT vec_id FROM embeddings
        | UNION ALL SELECT vec_id + 10000000 FROM embeddings
        | WHERE vec_id % 4 = 3),
        |v AS (SELECT vec_id, list_transform(range(1, 9), i ->
        |    (vec_id % 4) * 100.0
        |    + (CASE WHEN vec_id % 8 = 7 THEN 10.0 ELSE 0.0 END)
        |    + ((vec_id * 37 + i * 101) % 19) / 16.0) AS emb FROM ids),
        |c0 AS (SELECT unnest(range(0, 4)) AS cell0),
        |c0v AS (SELECT cell0, list_transform(range(1, 9), i ->
        |    cell0 * 100.0 + 0.5) AS emb FROM c0),
        |assign0 AS (SELECT vec_id, emb, cell0 FROM (
        |  SELECT b.vec_id, b.emb, c.cell0,
        |   row_number() OVER (PARTITION BY b.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 9), i ->
        |       (b.emb[i] - c.emb[i]) * (b.emb[i] - c.emb[i]))),
        |     c.cell0) AS rk
        |  FROM v b, c0v c) WHERE rk = 1),
        |rv0 AS (SELECT a.vec_id, list_transform(range(1, 9), i ->
        |    a.emb[i] - c.emb[i]) AS r
        |  FROM assign0 a JOIN c0v c USING (cell0)
        |  WHERE a.vec_id < 10000000),
        |cbr AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, r
        |  FROM (SELECT vec_id, r FROM rv0 ORDER BY vec_id LIMIT 4)),
        |cnt1 AS (SELECT cell0, CAST(count(*) AS BIGINT) AS n
        |         FROM assign0 GROUP BY 1),
        |hot AS (SELECT cell0 FROM cnt1,
        |  (SELECT CAST(sum(n) AS BIGINT) t, CAST(count(*) AS BIGINT) k
        |   FROM cnt1)
        |  WHERE n::HUGEINT * k * 20 >= t::HUGEINT * 21),
        |subs AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS sid, emb
        |  FROM (SELECT a.vec_id, a.emb FROM assign0 a JOIN hot
        |          USING (cell0)
        |        ORDER BY a.vec_id LIMIT 2)),
        |c1 AS (SELECT cell0 AS cellg, emb FROM c0v
        |        WHERE cell0 NOT IN (SELECT cell0 FROM hot)
        |       UNION ALL SELECT (SELECT cell0 FROM hot), emb FROM subs
        |        WHERE sid = 0
        |       UNION ALL SELECT 4, emb FROM subs WHERE sid = 1),
        |assign1 AS (SELECT vec_id, emb, cellg FROM (
        |  SELECT b.vec_id, b.emb, c.cellg,
        |   row_number() OVER (PARTITION BY b.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 9), i ->
        |       (b.emb[i] - c.emb[i]) * (b.emb[i] - c.emb[i]))),
        |     c.cellg) AS rk
        |  FROM v b, c1 c) WHERE rk = 1),
        |rv1 AS (SELECT a.vec_id, a.cellg, list_transform(range(1, 9), i ->
        |    a.emb[i] - c.emb[i]) AS r
        |  FROM assign1 a JOIN c1 c USING (cellg)),
        |sp AS (SELECT unnest(range(0, 4)) AS s),
        |d AS (SELECT rv1.vec_id, rv1.cellg, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 3), i ->
        |    (rv1.r[2*sp.s + i] - cbr.r[2*sp.s + i])
        |    * (rv1.r[2*sp.s + i] - cbr.r[2*sp.s + i]))) AS dd
        | FROM rv1, sp, cbr),
        |best AS (SELECT vec_id, cellg, s, cid FROM (
        |  SELECT vec_id, cellg, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid)
        |     AS rk
        |  FROM d) WHERE rk = 1),
        |q AS (SELECT emb FROM v WHERE vec_id = 7),
        |probe AS (SELECT c.cellg FROM c1 c, q
        | ORDER BY list_sum(list_transform(range(1, 9), i ->
        |    (q.emb[i] - c.emb[i]) * (q.emb[i] - c.emb[i]))), c.cellg
        | LIMIT 3),
        |lut AS (SELECT c.cellg, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 3), i ->
        |    ((q.emb[2*sp.s + i] - c.emb[2*sp.s + i]) - cbr.r[2*sp.s + i])
        |    * ((q.emb[2*sp.s + i] - c.emb[2*sp.s + i])
        |       - cbr.r[2*sp.s + i]))) AS dd
        | FROM c1 c, sp, cbr, q
        | WHERE c.cellg IN (SELECT cellg FROM probe)),
        |pervec AS (SELECT b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l
        |   ON l.cellg = b.cellg AND l.s = b.s AND l.cid = b.cid
        | WHERE b.cellg IN (SELECT cellg FROM probe)
        | GROUP BY b.vec_id),
        |top AS (SELECT vec_id, adc_dist FROM pervec
        |        ORDER BY adc_dist, vec_id LIMIT 10),
        |cnt2 AS (SELECT cellg, CAST(count(*) AS BIGINT) AS n_vecs
        |         FROM assign1 GROUP BY 1),
        |tt2 AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total_vecs,
        |        CAST(count(*) AS BIGINT) AS n_cells FROM cnt2),
        |rep AS (SELECT cellg, n_vecs, n_cells, total_vecs,
        |  CAST(n_vecs::HUGEINT * n_cells * 1000000 // total_vecs
        |    AS BIGINT) AS skew_ppm,
        |  n_vecs::HUGEINT * n_cells * 20 >= total_vecs::HUGEINT * 21
        |    AS rebalance
        | FROM cnt2, tt2)
        |SELECT t.vec_id, t.adc_dist, CAST(a.cellg + 1 AS BIGINT) AS cell,
        | r.n_vecs, r.n_cells, r.total_vecs, r.skew_ppm, r.rebalance
        |FROM top t JOIN assign1 a USING (vec_id)
        | JOIN rep r ON r.cellg = a.cellg
        |ORDER BY t.adc_dist, t.vec_id""".stripMargin),
    Gate("q147_ivfpq_topk", ivfPqTopKQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |c0 AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 8)),
        |assign AS (SELECT vec_id, embedding, cell0 FROM (
        |  SELECT v.vec_id, v.embedding, c.cell0,
        |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM embeddings v, c0 c) WHERE rk = 1),
        |rv AS (SELECT a.vec_id, a.cell0,
        |  list_transform(range(1, 65), i ->
        |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
        |cbr AS (SELECT
        |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
        | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
        |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
        |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
        | FROM rv, sp, cbr),
        |best AS (SELECT vec_id, cell0, s, cid FROM (
        |  SELECT vec_id, cell0, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |probe AS (SELECT c.cell0 FROM c0 c, q
        | ORDER BY list_sum(list_transform(range(1, 65), i ->
        |    (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |    * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), c.cell0
        | LIMIT 4),
        |lut AS (SELECT c.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])
        |    * ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])))
        |    AS dd
        | FROM c0 c, sp, cbr, q WHERE c.cell0 IN (SELECT cell0 FROM probe)),
        |pervec AS (SELECT b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l
        |   ON l.cell0 = b.cell0 AND l.s = b.s AND l.cid = b.cid
        | WHERE b.cell0 IN (SELECT cell0 FROM probe)
        | GROUP BY b.vec_id)
        |SELECT vec_id, adc_dist FROM pervec
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin),
    // the q147 chain with the tombstone membership filter: codebooks
    // and cells trained on the FULL corpus (deletion touches code rows
    // only), candidates restricted to survivors
    Gate("q179_index_delete", indexDeleteQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |c0 AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 8)),
        |assign AS (SELECT vec_id, embedding, cell0 FROM (
        |  SELECT v.vec_id, v.embedding, c.cell0,
        |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM embeddings v, c0 c) WHERE rk = 1),
        |rv AS (SELECT a.vec_id, a.cell0,
        |  list_transform(range(1, 65), i ->
        |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
        |cbr AS (SELECT
        |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
        | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
        |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
        |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
        | FROM rv, sp, cbr),
        |best AS (SELECT vec_id, cell0, s, cid FROM (
        |  SELECT vec_id, cell0, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |probe AS (SELECT c.cell0 FROM c0 c, q
        | ORDER BY list_sum(list_transform(range(1, 65), i ->
        |    (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |    * (q.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))), c.cell0
        | LIMIT 4),
        |lut AS (SELECT c.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])
        |    * ((q.embedding[8*sp.s + i]::DOUBLE
        |        - c.embedding[8*sp.s + i]::DOUBLE) - cbr.r[8*sp.s + i])))
        |    AS dd
        | FROM c0 c, sp, cbr, q WHERE c.cell0 IN (SELECT cell0 FROM probe)),
        |pervec AS (SELECT b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l
        |   ON l.cell0 = b.cell0 AND l.s = b.s AND l.cid = b.cid
        | WHERE b.cell0 IN (SELECT cell0 FROM probe)
        |   AND b.vec_id % 7 != 0
        | GROUP BY b.vec_id)
        |SELECT vec_id, adc_dist FROM pervec
        |ORDER BY adc_dist, vec_id LIMIT 10""".stripMargin),
    // even-spread quantile bins: bin = (0-based rank over
    // (n_chars, doc_id)) * k integer-divided by n
    Gate("q146_score_ntile", scoreNtileQ _,
      """WITH r AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY n_chars, doc_id) - 1 AS rk,
        |  count(*) OVER () AS n FROM documents)
        |SELECT doc_id, n_chars, CAST((rk * 4) // n AS BIGINT) AS bin
        |FROM r ORDER BY doc_id""".stripMargin),
    // composed (U+00E9) and decomposed (e + U+0301) suffixes normalize
    // to the same NFC string, so md5-after-normalize pairs every clone
    // with its original and min-id keeps exactly the originals
    Gate("q142_nfc_dedup", nfcDedupQ _,
      """WITH c AS (
        | SELECT doc_id, text || ' caf' || chr(233) AS text FROM documents
        | UNION ALL
        | SELECT doc_id + 100000, text || ' cafe' || chr(769)
        | FROM documents),
        |n AS (SELECT doc_id, md5(nfc_normalize(text)) AS fp FROM c),
        |k AS (SELECT fp, min(doc_id) AS keeper FROM n GROUP BY fp)
        |SELECT n.doc_id, n.doc_id = k.keeper AS keep
        |FROM n JOIN k USING (fp) ORDER BY n.doc_id""".stripMargin),
    // IVF-PQ: coarse = 8 lowest-id sample rows (cell = rank, 1-based in
    // the output to match ivfCell); residual r = v − coarse[cell];
    // residual codebook = residuals of the 16 lowest-id sample rows;
    // code = sequential-sum argmin per subspace, ties → lowest cid
    Gate("q141_ivfpq_codes", ivfPqCodesQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |c0 AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cell0
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 8)),
        |assign AS (SELECT vec_id, embedding, cell0 FROM (
        |  SELECT v.vec_id, v.embedding, c.cell0,
        |   row_number() OVER (PARTITION BY v.vec_id ORDER BY
        |     list_sum(list_transform(range(1, 65), i ->
        |       (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
        |       * (v.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE))),
        |     c.cell0) AS rk
        |  FROM embeddings v, c0 c) WHERE rk = 1),
        |rv AS (SELECT a.vec_id, a.cell0,
        |  list_transform(range(1, 65), i ->
        |    a.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
        | FROM assign a JOIN c0 c ON a.cell0 = c.cell0),
        |cbr AS (SELECT
        |  row_number() OVER (ORDER BY rv.vec_id) - 1 AS cid, rv.r
        | FROM rv JOIN (SELECT vec_id FROM sm WHERE rn <= 4096
        |               ORDER BY vec_id LIMIT 16) s USING (vec_id)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT rv.vec_id, rv.cell0, sp.s, cbr.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i])
        |    * (rv.r[8*sp.s + i] - cbr.r[8*sp.s + i]))) AS dd
        | FROM rv, sp, cbr),
        |best AS (SELECT vec_id, cell0, s, cid FROM (
        |  SELECT vec_id, cell0, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1)
        |SELECT vec_id, CAST(cell0 + 1 AS BIGINT) AS cell,
        | CAST(s AS BIGINT) AS subspace, CAST(cid AS BIGINT) AS code
        |FROM best ORDER BY vec_id, subspace""".stripMargin),
    // the q137 code chain + the ADC read: LUT(s, j) = sequential
    // squared-distance of the query's subvector s to centroid j; the
    // per-vector distance is the s-ORDERED list of its 8 LUT reads
    // summed sequentially (list(dd ORDER BY s) -> list_sum == the
    // engine's ascending-subspace reduce)
    Gate("q138_pq_adc", pqAdcQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |cb AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cid
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 16)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT v.vec_id, sp.s, cb.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (v.embedding[8*sp.s + i]::DOUBLE - cb.embedding[8*sp.s + i]::DOUBLE)
        |    * (v.embedding[8*sp.s + i]::DOUBLE - cb.embedding[8*sp.s + i]::DOUBLE)))
        |    AS dd
        | FROM embeddings v, sp, cb),
        |best AS (SELECT vec_id, s, cid FROM (
        |  SELECT vec_id, s, cid,
        |   row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        |  FROM d) WHERE rk = 1),
        |q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
        |lut AS (SELECT sp.s, cb.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (q.embedding[8*sp.s + i]::DOUBLE - cb.embedding[8*sp.s + i]::DOUBLE)
        |    * (q.embedding[8*sp.s + i]::DOUBLE - cb.embedding[8*sp.s + i]::DOUBLE)))
        |    AS dd
        | FROM sp, cb, q),
        |pervec AS (SELECT b.vec_id,
        |  list_sum(list(l.dd ORDER BY b.s)) AS adc_dist
        | FROM best b JOIN lut l ON b.s = l.s AND b.cid = l.cid
        | GROUP BY b.vec_id)
        |SELECT vec_id, adc_dist FROM pervec
        |ORDER BY adc_dist, vec_id LIMIT 20""".stripMargin),
    // iters=0 PQ: codebook s = subvectors [8s+1, 8s+8] of the 16
    // lowest-id rows of the md5-ordered 4096-sample (cid = id rank − 1);
    // code = argmin of the sequential squared-distance sum, ties to the
    // lowest cid — exactly pqEncode's array_position(min) convention
    Gate("q137_pq_codes", pqCodesQ _,
      """WITH sm AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
        |    vec_id) AS rn
        | FROM embeddings),
        |cb AS (SELECT vec_id, embedding,
        |  row_number() OVER (ORDER BY vec_id) - 1 AS cid
        | FROM (SELECT vec_id, embedding FROM sm WHERE rn <= 4096
        |       ORDER BY vec_id LIMIT 16)),
        |sp AS (SELECT unnest(range(0, 8)) AS s),
        |d AS (SELECT v.vec_id, sp.s, cb.cid,
        |  list_sum(list_transform(range(1, 9), i ->
        |    (v.embedding[8*sp.s + i]::DOUBLE - cb.embedding[8*sp.s + i]::DOUBLE)
        |    * (v.embedding[8*sp.s + i]::DOUBLE - cb.embedding[8*sp.s + i]::DOUBLE)))
        |    AS dd
        | FROM embeddings v, sp, cb),
        |best AS (SELECT vec_id, s, cid,
        |  row_number() OVER (PARTITION BY vec_id, s ORDER BY dd, cid) AS rk
        | FROM d)
        |SELECT vec_id, CAST(s AS BIGINT) AS subspace,
        | CAST(cid AS BIGINT) AS code
        |FROM best WHERE rk = 1 ORDER BY vec_id, subspace""".stripMargin),
    // every HLL register restated from the md5 hash60: bucket = top 6
    // bits (integer division by 2^54), rho = 55 - bitlength of the
    // 54-bit remainder (55 for an all-zero tail), register = max rho,
    // unseen buckets 0 via the source x bucket grid; '__all__' is the
    // max over sources (element-wise register union = max over all rows)
    Gate("q136_hll_registers", hllRegistersQ _,
      """WITH toks AS (
        | SELECT source,
        |  unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |h AS (SELECT DISTINCT source,
        |  ('0x' || substring(md5(term), 1, 15))::BIGINT AS h FROM toks),
        |rr AS (SELECT source, h // 18014398509481984 AS bucket,
        |  CASE WHEN h % 18014398509481984 = 0 THEN 55
        |       ELSE 55 - length(bin(h % 18014398509481984)) END AS rho
        | FROM h),
        |regs AS (
        | SELECT source, bucket, CAST(max(rho) AS BIGINT) AS register
        | FROM rr GROUP BY source, bucket
        | UNION ALL
        | SELECT '__all__' AS source, bucket, CAST(max(rho) AS BIGINT)
        | FROM rr GROUP BY bucket),
        |srcs AS (SELECT DISTINCT source FROM documents
        |         UNION ALL SELECT '__all__'),
        |grid AS (SELECT s.source, b.bucket
        |         FROM srcs s, (SELECT unnest(range(0, 64)) AS bucket) b)
        |SELECT g.source, CAST(g.bucket AS BIGINT) AS bucket,
        | coalesce(r.register, 0) AS register
        |FROM grid g LEFT JOIN regs r
        |  ON g.source = r.source AND g.bucket = r.bucket
        |ORDER BY g.source, g.bucket""".stripMargin),
    // per-language perplexity pruning: the q75 bits score, fixed-point
    // scaled by 2^20 with INTEGER division (exact in both engines), cut
    // at floor(0.7 · n_lang) via a row_number window — the engine's
    // groupedPrefixSum rank over (score_fx, doc_id) states identically
    Gate("q135_perplexity_prune", perplexityPruneQ _,
      (s"WITH $surprisalCte,\n" +
      """s AS (SELECT r.doc_id, d.lang,
        |  (sum_bits * 1048576) // greatest(n_tokens, 1) AS score_fx
        | FROM r JOIN documents d USING (doc_id)),
        |k AS (SELECT doc_id, lang, score_fx,
        |  row_number() OVER (PARTITION BY lang
        |                     ORDER BY score_fx, doc_id) AS rk,
        |  count(*) OVER (PARTITION BY lang) AS n FROM s)
        |SELECT doc_id, lang, CAST(score_fx AS BIGINT) AS score_fx
        |FROM k WHERE rk <= CAST(floor(0.7 * n) AS BIGINT)
        |ORDER BY doc_id""".stripMargin)),
    // the byte-mode kernel is bit-exact vs DuckDB's byte-comparing
    // jaro_winkler_similarity, so raw doubles hash-compare even on the
    // multibyte corpus (the construction restates with char-based
    // substring/length, identical in both engines)
    Gate("q133_byte_jaro_winkler", byteJaroWinklerQ _,
      """WITH n AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 1 THEN substring(b, 1, length(b) - 1)
        |       WHEN doc_id % 5 = 2 THEN b || 'é'
        |       WHEN doc_id % 5 = 3 THEN 'ø' || substring(b, 2, length(b))
        |       ELSE b END AS name
        | FROM (SELECT doc_id,
        |        'café münchén ' || CAST(doc_id % 37 AS VARCHAR) AS b
        |       FROM documents))
        |SELECT a.doc_id AS doc_id,
        | jaro_winkler_similarity(a.name, bb.name) AS jw_byte
        |FROM n a JOIN n bb ON bb.doc_id = a.doc_id + 1
        |ORDER BY doc_id""".stripMargin),
    // the bipartite form of q131: cross-parity pairs only
    Gate("q132_cross_token_fuzzy", crossTokenFuzzyQ _,
      (s"WITH $titleTokensCte,\n" +
      s"""p AS (
         | SELECT a.doc_id AS corpus_id, c.doc_id AS batch_id,
         |  CASE WHEN a.toks = c.toks THEN CAST(0 AS BIGINT)
         |       ELSE CAST(1 AS BIGINT) END AS dist
         | FROM t a JOIN t c ON a.doc_id % 2 = 0 AND c.doc_id % 2 = 1
         | WHERE ${tokenLev1Sql("a", "c")})
         |SELECT dist, count(*) AS n_pairs,
         | CAST(sum(corpus_id) AS BIGINT) AS sum_corpus,
         | CAST(sum(batch_id) AS BIGINT) AS sum_batch,
         | CAST(sum(corpus_id * batch_id) AS BIGINT) AS sum_cross
         |FROM p GROUP BY dist ORDER BY dist""".stripMargin)),
    // exhaustive all-pairs token-lev<=1 via the prefix+suffix cover
    // identity (list_position over per-position equality), the same
    // predicate the engine verifies candidates with
    Gate("q131_token_fuzzy", tokenFuzzyQ _,
      (s"WITH $titleTokensCte,\n" +
      s"""p AS (
         | SELECT a.doc_id AS id_a, c.doc_id AS id_b,
         |  CASE WHEN a.toks = c.toks THEN CAST(0 AS BIGINT)
         |       ELSE CAST(1 AS BIGINT) END AS dist
         | FROM t a JOIN t c ON a.doc_id < c.doc_id
         | WHERE ${tokenLev1Sql("a", "c")})
         |SELECT dist, count(*) AS n_pairs,
         | CAST(sum(id_a) AS BIGINT) AS sum_a,
         | CAST(sum(id_b) AS BIGINT) AS sum_b,
         | CAST(sum(id_a * id_b) AS BIGINT) AS sum_ab
         |FROM p GROUP BY dist ORDER BY dist""".stripMargin)),
    // the q125 closure, aggregated per cluster
    Gate("q130_golden_records", goldenRecordsQ _,
      (s"WITH RECURSIVE $sparseTypoCte,\n" +
      """p AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 1),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, lbl) AS (
        | SELECT doc_id, doc_id FROM n
        | UNION
        | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
        |cl AS (
        | SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
        | FROM reach GROUP BY id)
        |SELECT cluster_id, min(name) AS canonical_name,
        | count(*) AS n_members,
        | CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM cl JOIN n USING (doc_id)
        |GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)),
    // both passes + the set algebra restated; the dn branch is the
    // exhaustive lev<=1 join (complete-blocking equivalence) with the
    // same jw threshold the engine applies
    Gate("q129_linkage_card", linkageCardQ _,
      (s"WITH $sparseTypoCte,\n" +
      """r AS (
        | SELECT doc_id, name,
        |  row_number() OVER (ORDER BY name, doc_id) - 1 AS rn FROM n),
        |sn AS (
        | SELECT DISTINCT least(a.doc_id, c.doc_id) AS id_a,
        |        greatest(a.doc_id, c.doc_id) AS id_b
        | FROM r a JOIN r c ON c.rn > a.rn AND c.rn <= a.rn + 5
        | WHERE jaro_winkler_similarity(a.name, c.name) >= 0.84),
        |dn AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 1
        |  AND jaro_winkler_similarity(a.name, c.name) >= 0.84),
        |b AS (SELECT id_a, id_b FROM sn
        |      INTERSECT SELECT id_a, id_b FROM dn),
        |u AS (SELECT id_a, id_b FROM sn UNION SELECT id_a, id_b FROM dn)
        |SELECT * FROM (
        | SELECT 'deletion_neighborhood' AS pass, count(*) AS n_pairs,
        |  CAST(coalesce(sum(id_a), 0) AS BIGINT) AS sum_a,
        |  CAST(coalesce(sum(id_b), 0) AS BIGINT) AS sum_b FROM dn
        | UNION ALL
        | SELECT 'intersection', count(*),
        |  CAST(coalesce(sum(id_a), 0) AS BIGINT),
        |  CAST(coalesce(sum(id_b), 0) AS BIGINT) FROM b
        | UNION ALL
        | SELECT 'sorted_neighborhood', count(*),
        |  CAST(coalesce(sum(id_a), 0) AS BIGINT),
        |  CAST(coalesce(sum(id_b), 0) AS BIGINT) FROM sn
        | UNION ALL
        | SELECT 'union', count(*),
        |  CAST(coalesce(sum(id_a), 0) AS BIGINT),
        |  CAST(coalesce(sum(id_b), 0) AS BIGINT) FROM u)
        |ORDER BY pass""".stripMargin)),
    // exhaustive bipartite lev<=1 join: even ids (corpus) x odd ids
    // (batch) only - a within-side pair on either side breaks the hash
    Gate("q127_fuzzy_incremental", fuzzyIncrementalQ _,
      (s"WITH $sparseTypoCte,\n" +
      """p AS (
        | SELECT a.doc_id AS corpus_id, c.doc_id AS batch_id,
        |  CAST(levenshtein(a.name, c.name) AS BIGINT) AS dist
        | FROM n a JOIN n c ON a.doc_id % 2 = 0 AND c.doc_id % 2 = 1
        | WHERE levenshtein(a.name, c.name) <= 1)
        |SELECT dist, count(*) AS n_pairs,
        | CAST(sum(corpus_id) AS BIGINT) AS sum_corpus,
        | CAST(sum(batch_id) AS BIGINT) AS sum_batch,
        | CAST(sum(corpus_id * batch_id) AS BIGINT) AS sum_cross
        |FROM p GROUP BY dist ORDER BY dist""".stripMargin)),
    // both candidate branches restated: the rank-band self-join (sorted
    // neighborhood) and the exhaustive lev<=1 join (= the engine's
    // deletion-neighborhood blocking, complete for d<=1); UNION dedups
    // like the engine's distinct(), then each unordered pair scores once
    Gate("q126_linkage_union", linkageUnionQ _,
      (s"WITH $sparseTypoCte,\n" +
      """r AS (
        | SELECT doc_id, name,
        |  row_number() OVER (ORDER BY name, doc_id) - 1 AS rn FROM n),
        |sn AS (
        | SELECT least(a.doc_id, c.doc_id) AS id_a,
        |        greatest(a.doc_id, c.doc_id) AS id_b
        | FROM r a JOIN r c ON c.rn > a.rn AND c.rn <= a.rn + 5
        | WHERE jaro_winkler_similarity(a.name, c.name) >= 0.84),
        |dn AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 1),
        |cand AS (SELECT id_a, id_b FROM sn UNION SELECT id_a, id_b FROM dn),
        |p AS (
        | SELECT cand.id_a, cand.id_b,
        |  jaro_winkler_similarity(na.name, nb.name) AS jw_score
        | FROM cand
        | JOIN n na ON na.doc_id = cand.id_a
        | JOIN n nb ON nb.doc_id = cand.id_b
        | WHERE jaro_winkler_similarity(na.name, nb.name) >= 0.84)
        |SELECT jw_score, count(*) AS n_pairs,
        | CAST(sum(id_a) AS BIGINT) AS sum_a,
        | CAST(sum(id_b) AS BIGINT) AS sum_b
        |FROM p GROUP BY jw_score ORDER BY jw_score""".stripMargin)),
    // components via recursive CTE over the exhaustive lev<=1 pair set,
    // then the md5 cut restated on the CLUSTER id (q77's seam)
    // the q125 recursive closure + per-cluster longest-doc argmax
    // (n_chars DESC, then doc_id)
    Gate("q162_canonical_select", canonicalSelectionQ _,
      (s"WITH RECURSIVE $sparseTypoCte,\n" +
      """p AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 1),
        |edges AS (SELECT id_a AS u, id_b AS v FROM p
        |          UNION SELECT id_b, id_a FROM p),
        |reach(id, lbl) AS (
        | SELECT doc_id, doc_id FROM n
        | UNION
        | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
        |cl AS (
        | SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
        | FROM reach GROUP BY id),
        |m AS (
        | SELECT cl.doc_id, cl.cluster_id, d.n_chars,
        |  row_number() OVER (PARTITION BY cl.cluster_id
        |    ORDER BY d.n_chars DESC, cl.doc_id) AS rk
        | FROM cl JOIN documents d ON cl.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, n_chars, rk = 1 AS is_canonical
        |FROM m ORDER BY doc_id""".stripMargin)),
    Gate("q125_cluster_safe_split", clusterSafeSplitQ _,
      (s"WITH RECURSIVE $sparseTypoCte,\n" +
      s"""p AS (
         | SELECT a.doc_id AS id_a, c.doc_id AS id_b
         | FROM n a JOIN n c ON a.doc_id < c.doc_id
         | WHERE levenshtein(a.name, c.name) <= 1),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, lbl) AS (
         | SELECT doc_id, doc_id FROM n
         | UNION
         | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
         |cl AS (
         | SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
         | FROM reach GROUP BY id)
         |SELECT doc_id, cluster_id,
         | CASE WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
         |        < '${graft.functions.Sampling.thresholdHex(0.8)}' THEN 'train'
         |      WHEN substring(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
         |        < '${graft.functions.Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val'
         |      ELSE 'test' END AS split
         |FROM cl ORDER BY doc_id""".stripMargin)),
    // exhaustive all-pairs levenshtein <= 2 over the sparse typo corpus
    // the provenance report from the exhaustive pair set: exact keeper =
    // min identical-name smaller id; fuzzy keeper = closest (then
    // smallest) smaller-id neighbor — with maxDist 1 the closest
    // non-exact neighbor is always at distance 1
    Gate("q155_dedup_provenance", provenanceQ _,
      (s"WITH $sparseTypoCte,\n" +
      """p AS (
        | SELECT a.doc_id AS ka, c.doc_id AS kb,
        |  CAST(levenshtein(a.name, c.name) AS BIGINT) AS d
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 1)
        |SELECT kb AS doc_id,
        | coalesce(min(CASE WHEN d = 0 THEN ka END),
        |          min(CASE WHEN d = 1 THEN ka END)) AS keeper_id,
        | CASE WHEN min(CASE WHEN d = 0 THEN ka END) IS NOT NULL
        |      THEN 'exact' ELSE 'fuzzy' END AS reason,
        | CASE WHEN min(CASE WHEN d = 0 THEN ka END) IS NOT NULL
        |      THEN CAST(0 AS BIGINT) ELSE CAST(1 AS BIGINT) END AS dist
        |FROM p GROUP BY kb ORDER BY doc_id""".stripMargin)),
    Gate("q124_fuzzy_d2", fuzzyPairsD2Q _,
      (s"WITH $sparseTypoCte,\n" +
      """p AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(levenshtein(a.name, c.name) AS BIGINT) AS dist
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 2)
        |SELECT dist, count(*) AS n_pairs,
        | CAST(sum(id_a) AS BIGINT) AS sum_a,
        | CAST(sum(id_b) AS BIGINT) AS sum_b,
        | CAST(sum(id_a * id_b) AS BIGINT) AS sum_ab
        |FROM p GROUP BY dist ORDER BY dist""".stripMargin)),
    // the same sorted-neighborhood semantics via a row_number window and
    // a rank-band self-join; jaro_winkler_similarity is bit-identical to
    // the engine's native kernel on ASCII text (fuzz-pinned; DuckDB
    // compares UTF-8 bytes, the kernel UTF-16 code units — this corpus
    // is ASCII), so grouping by the raw double score is exact
    Gate("q123_sorted_neighborhood", sortedNeighborhoodQ _,
      (s"WITH $denseTypoCte,\n" +
      """r AS (
        | SELECT doc_id, name,
        |  row_number() OVER (ORDER BY name, doc_id) - 1 AS rn FROM n),
        |p AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  jaro_winkler_similarity(a.name, c.name) AS jw_score
        | FROM r a JOIN r c ON c.rn > a.rn AND c.rn <= a.rn + 5
        | WHERE jaro_winkler_similarity(a.name, c.name) >= 0.84)
        |SELECT jw_score, count(*) AS n_pairs,
        | CAST(sum(id_a) AS BIGINT) AS sum_a,
        | CAST(sum(id_b) AS BIGINT) AS sum_b
        |FROM p GROUP BY jw_score ORDER BY jw_score""".stripMargin)),
    // EXHAUSTIVE all-pairs levenshtein over the same deterministic typo
    // construction — the engine's deletion-neighborhood blocking must
    // reproduce it exactly or the hash breaks
    Gate("q122_fuzzy_pairs", fuzzyPairsQ _,
      (s"WITH $denseTypoCte,\n" +
      """p AS (
        | SELECT a.doc_id AS id_a, c.doc_id AS id_b,
        |  CAST(levenshtein(a.name, c.name) AS BIGINT) AS dist
        | FROM n a JOIN n c ON a.doc_id < c.doc_id
        | WHERE levenshtein(a.name, c.name) <= 1)
        |SELECT dist, count(*) AS n_pairs,
        | CAST(sum(id_a) AS BIGINT) AS sum_a,
        | CAST(sum(id_b) AS BIGINT) AS sum_b,
        | CAST(sum(id_a * id_b) AS BIGINT) AS sum_ab
        |FROM p GROUP BY dist ORDER BY dist""".stripMargin)),
    // the identical integer allocation (floor-sqrt weights, exact
    // integer sum and division) over the same md5-ranked pick
    Gate("q118_sqrt_allocation", sqrtAllocationQ _,
      """WITH counts AS (
        | SELECT lang, count(*) AS n FROM documents GROUP BY lang),
        |wts AS (SELECT lang,
        |  CAST(floor(sqrt(n::DOUBLE)) AS BIGINT) AS w FROM counts),
        |tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM wts),
        |ks AS (SELECT lang, (300 * w) // total AS k
        |       FROM wts CROSS JOIN tot),
        |ranked AS (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id)
        |    AS rk
        | FROM documents)
        |SELECT doc_id, lang FROM ranked JOIN ks USING (lang)
        |WHERE rk <= k ORDER BY doc_id""".stripMargin),
    // the identical feature hashing (hash60 buckets, sign hash on
    // t||'#'), per-doc dense 64-vectors, the same dot/sqrt/divide
    // cosine shape — products and sums are integer-valued doubles, so
    // only sqrt and the final division round, identically
    Gate("q117_feature_hash", featureHashRetrievalQ _, {
      def dot(a: String, b: String) =
        s"list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i]))"
      s"""WITH toks AS (
         | SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS t
         | FROM documents),
         |cells AS (SELECT doc_id,
         |  ('0x' || substring(md5(t), 1, 15))::BIGINT % 64 AS b,
         |  CASE WHEN ('0x' || substring(md5(t || '#'), 1, 15))::BIGINT % 2 = 0
         |       THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END AS s
         | FROM toks),
         |cv AS (SELECT doc_id, b, sum(s) AS v FROM cells GROUP BY doc_id, b),
         |cl AS (SELECT doc_id, list(struct_pack(b := b, v := v)) AS cs
         |       FROM cv GROUP BY doc_id),
         |vecs AS (SELECT doc_id, list_transform(range(0, 64), i ->
         |  coalesce(list_sum(list_transform(
         |    list_filter(cs, c -> c.b = i), c -> c.v)), 0.0::DOUBLE)) AS vec
         | FROM cl),
         |q AS (SELECT vec AS qvec FROM vecs WHERE doc_id = 0),
         |sims AS (SELECT v.doc_id,
         |  ${dot("v.vec", "q.qvec")} /
         |   (sqrt(${dot("v.vec", "v.vec")}) * sqrt(${dot("q.qvec", "q.qvec")}))
         |   AS cosine_sim
         | FROM vecs v CROSS JOIN q
         | WHERE v.doc_id <> 0 AND ${dot("v.vec", "v.vec")} > 0
         |   AND ${dot("q.qvec", "q.qvec")} > 0)
         |SELECT doc_id, cosine_sim FROM sims
         |ORDER BY cosine_sim DESC, doc_id LIMIT 10""".stripMargin
    }),
    // the identical ring: md5-coordinate rank (the oracle may window),
    // the same integer offsets 1 + (j·N)//5, modular partner lookup
    Gate("q116_ring_negatives", ringNegativesQ _,
      """WITH rk AS (
        | SELECT doc_id, row_number() OVER (ORDER BY
        |   substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) - 1
        |   AS rank
        | FROM documents),
        |n AS (SELECT count(*) AS n FROM documents),
        |j AS (SELECT unnest(range(1, 5)) AS neg_idx),
        |t AS (SELECT a.doc_id AS anchor_id, j.neg_idx,
        |  (a.rank + 1 + (j.neg_idx * n.n) // 5) % n.n AS trank
        | FROM rk a CROSS JOIN j CROSS JOIN n)
        |SELECT t.anchor_id, CAST(t.neg_idx AS BIGINT) AS neg_idx,
        | b.doc_id AS neg_id
        |FROM t JOIN rk b ON b.rank = t.trank
        |ORDER BY anchor_id, neg_idx""".stripMargin),
    // merge(sketch(A), sketch(B)) ≡ sketch(A ∪ B): the oracle is q81's
    // whole-corpus bottom-k per source (no halves anywhere), plus the
    // half count the engine derives from non-empty (source, half) groups.
    Gate("q115_sketch_merge", sketchMergeQ _,
      """WITH toks AS (
        | SELECT source, doc_id % 2 AS half,
        |  unnest(regexp_extract_all(lower(text), '\S+')) AS t
        | FROM documents),
        |parts AS (SELECT source, CAST(count(DISTINCT half) AS BIGINT)
        |          AS n_parts FROM toks GROUP BY source),
        |h AS (SELECT DISTINCT source,
        |  ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY source) AS m FROM h)
        |SELECT r.source, p.n_parts,
        | CAST(least(min(m), 256) AS INT) AS sketch_size,
        | CASE WHEN min(m) < 256 THEN min(m)::DOUBLE
        |      ELSE CAST(255 AS DOUBLE) /
        |        (max(CASE WHEN rn = 256 THEN h END)::DOUBLE
        |          / 1152921504606846976.0::DOUBLE) END AS est_distinct
        |FROM r JOIN parts p USING (source)
        |GROUP BY r.source, p.n_parts ORDER BY r.source""".stripMargin),
    // q95's recursive longest-match segmentation extended to carry
    // (unit, prev) per step and emit adjacent pairs, weighted by the
    // distinct-run corpus counts — the same one-iteration BPE trainer.
    Gate("q113_bpe_merge_mine", bpeMergeCandidatesQ _,
      s"""WITH RECURSIVE bpe_vocab(v) AS (VALUES $bpeVocabValues),
         |pieces0 AS (
         | SELECT unnest(regexp_extract_all(lower(text),
         |   '[a-z0-9]+|[^a-z0-9\\s]')) AS piece
         | FROM documents),
         |pc AS (SELECT piece, count(*) AS cnt FROM pieces0
         |       WHERE regexp_matches(piece, '^[a-z0-9]')
         |       GROUP BY piece),
         |steps(w, rest, unit, prev) AS (
         | SELECT piece, piece, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
         | FROM pc
         | UNION ALL
         | SELECT w,
         |  substr(rest, (SELECT max(length(v)) FROM bpe_vocab
         |                WHERE starts_with(rest, v)) + 1),
         |  substr(rest, 1, (SELECT max(length(v)) FROM bpe_vocab
         |                   WHERE starts_with(rest, v))),
         |  unit
         | FROM steps WHERE rest <> ''),
         |wpairs AS (SELECT w, prev AS unit_a, unit AS unit_b
         |           FROM steps WHERE prev IS NOT NULL)
         |SELECT unit_a, unit_b, CAST(sum(cnt) AS BIGINT) AS cnt
         |FROM wpairs JOIN pc ON wpairs.w = pc.piece
         |GROUP BY unit_a, unit_b
         |ORDER BY cnt DESC, unit_a, unit_b LIMIT 20""".stripMargin),
    // Both channels restated (q85's TF-IDF over the corpus-minus-query,
    // q27's shingle Jaccard against doc 0), then the identical
    // rank-based RRF arithmetic — 1.0/(60+rank) in the same fixed
    // sparse-then-char addition order.
    Gate("q111_hybrid_retrieval", hybridRetrievalQ _,
      """WITH q AS (
        | SELECT term, count(*)::DOUBLE AS qtf FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE doc_id = 0) GROUP BY term),
        |toks AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents WHERE doc_id <> 0),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        | FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents
        |      WHERE doc_id <> 0),
        |sc AS (SELECT doc_id,
        |  CAST(floor(qtf * tf::DOUBLE *
        |    ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)) *
        |    1048576.0::DOUBLE) AS BIGINT) AS c
        | FROM tf JOIN q USING (term) JOIN dfreq USING (term) CROSS JOIN n),
        |sp0 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_scaled
        | FROM sc GROUP BY doc_id
        | ORDER BY score_scaled DESC, doc_id LIMIT 20),
        |sp AS (SELECT doc_id, row_number() OVER
        |  (ORDER BY score_scaled DESC, doc_id) AS rank_tfidf FROM sp0),
        |qsh AS (SELECT list_distinct(list_transform(
        |  range(1, greatest(length(lower(text)) - 6, 1) + 1),
        |  i -> substring(lower(text), CAST(i AS INT), 7))) AS qs
        | FROM documents WHERE doc_id = 0),
        |g AS (SELECT doc_id, list_distinct(list_transform(
        |  range(1, greatest(length(lower(text)) - 6, 1) + 1),
        |  i -> substring(lower(text), CAST(i AS INT), 7))) AS sh
        | FROM documents WHERE doc_id <> 0),
        |sims AS (SELECT doc_id,
        |  len(list_intersect(sh, qs))::DOUBLE /
        |   greatest(len(sh) + len(qs) - len(list_intersect(sh, qs)), 1)
        |   AS sim
        | FROM g CROSS JOIN qsh),
        |ch0 AS (SELECT doc_id, sim FROM sims
        | ORDER BY sim DESC, doc_id LIMIT 20),
        |ch AS (SELECT doc_id, row_number() OVER
        |  (ORDER BY sim DESC, doc_id) AS rank_char FROM ch0)
        |SELECT doc_id, rank_tfidf, rank_char,
        | coalesce(1.0::DOUBLE / (60 + rank_tfidf), 0.0::DOUBLE) +
        |  coalesce(1.0::DOUBLE / (60 + rank_char), 0.0::DOUBLE) AS rrf
        |FROM sp FULL OUTER JOIN ch USING (doc_id)
        |ORDER BY rrf DESC, doc_id""".stripMargin),
    // The whole sketch estimator restated: bottom-256 distinct values by
    // the portable hash60 with exact counts, quantile = smallest value
    // whose running count reaches ceil(q·mass) (::DOUBLE so both engines
    // IEEE-multiply; floored at rank 1).
    Gate("q110_quantile_sketch", quantileSketchQ _,
      """WITH vc AS (SELECT source, n_chars AS v, count(*) AS c
        |            FROM documents GROUP BY source, n_chars),
        |h AS (SELECT source, v, c,
        |  ('0x' || substring(md5(CAST(v AS VARCHAR)), 1, 15))::BIGINT AS hv
        | FROM vc),
        |rk AS (SELECT *, row_number() OVER (PARTITION BY source
        |  ORDER BY hv) AS r FROM h),
        |sk AS (SELECT source, v, c FROM rk WHERE r <= 256),
        |tot AS (SELECT source, CAST(count(*) AS BIGINT) AS sketch_size,
        |        CAST(sum(c) AS BIGINT) AS sketch_mass
        |        FROM sk GROUP BY source),
        |cum AS (SELECT sk.source, v,
        |        sum(c) OVER (PARTITION BY sk.source ORDER BY v) AS cw,
        |        t.sketch_mass AS mass
        | FROM sk JOIN tot t USING (source)),
        |q AS (SELECT source,
        |  min(CASE WHEN cw >= greatest(1, CAST(ceil(0.5::DOUBLE *
        |    mass::DOUBLE) AS BIGINT)) THEN v END) AS p50,
        |  min(CASE WHEN cw >= greatest(1, CAST(ceil(0.9::DOUBLE *
        |    mass::DOUBLE) AS BIGINT)) THEN v END) AS p90,
        |  min(CASE WHEN cw >= greatest(1, CAST(ceil(0.99::DOUBLE *
        |    mass::DOUBLE) AS BIGINT)) THEN v END) AS p99
        | FROM cum GROUP BY source)
        |SELECT t.source, t.sketch_size, t.sketch_mass, q.p50, q.p90, q.p99
        |FROM tot t JOIN q USING (source) ORDER BY source""".stripMargin),
    // The identical ticket lottery: w tickets per doc via range, the same
    // numeric hash60 of "key:i", min-ticket priority, top-100 with the
    // same STRING tiebreak on the key the engine uses.
    Gate("q107_weighted_sample", weightedSampleQ _,
      """WITH w AS (
        | SELECT doc_id, lang, 1 + (n_chars % 8) AS w FROM documents),
        |t AS (SELECT doc_id, unnest(range(0, w)) AS i FROM w),
        |pri AS (SELECT doc_id,
        |  min(('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
        |    CAST(i AS VARCHAR)), 1, 15))::BIGINT) AS priority
        | FROM t GROUP BY doc_id),
        |win AS (SELECT doc_id FROM pri
        | ORDER BY priority, CAST(doc_id AS VARCHAR) LIMIT 100)
        |SELECT w.doc_id, w.lang, CAST(w.w AS BIGINT) AS w
        |FROM w JOIN win USING (doc_id) ORDER BY doc_id""".stripMargin),
    // min-label components over the chain pairs, size join, 10^6 //
    // size truncating weights; absent-from-pairs docs are singletons
    Gate("q280_dedup_weights", dedupWeightsQ _,
      """WITH RECURSIVE base AS (SELECT doc_id FROM documents),
        |pairs AS (
        | SELECT doc_id AS a, doc_id + 1 AS b FROM base
        |  WHERE doc_id % 5 = 0
        | UNION SELECT doc_id + 1, doc_id + 2 FROM base
        |  WHERE doc_id % 10 = 0),
        |edges AS (SELECT a AS u, b AS v FROM pairs
        |          UNION SELECT b, a FROM pairs),
        |ids AS (SELECT u AS id FROM edges UNION SELECT v FROM edges),
        |reach(id, lbl) AS (
        | SELECT id, id FROM ids
        | UNION
        | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
        |asg AS (SELECT id, min(lbl) AS c FROM reach GROUP BY id),
        |lab AS (SELECT b.doc_id, COALESCE(a.c, b.doc_id) AS cluster_id
        |        FROM base b LEFT JOIN asg a ON a.id = b.doc_id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
        |         AS cluster_size
        |       FROM lab GROUP BY 1)
        |SELECT l.doc_id, l.cluster_id, s.cluster_size,
        | CAST(1000000 // s.cluster_size AS BIGINT) AS weight_ppm
        |FROM lab l JOIN sz s USING (cluster_id)
        |ORDER BY doc_id""".stripMargin),
    // the q263 rank with a per-lang row_number cutoff
    Gate("q274_group_reservoir", weightedReservoirByGroupQ _,
      """WITH h AS (SELECT doc_id, lang, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS hv
        | FROM documents),
        |r AS (SELECT doc_id, lang, n_chars, hv,
        |  hv // n_chars AS rnk FROM h),
        |s AS (SELECT lang, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY rnk, hv, doc_id) AS sample_rank
        | FROM r)
        |SELECT lang, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id,
        | n_chars
        |FROM s WHERE sample_rank <= 20 ORDER BY lang, sample_rank""".stripMargin),
    // the same residue boundaries, span arithmetic, and 60-bit chunk
    // hashes; lag() rebuilds the spans the array expression builds
    Gate("q271_cdc_chunks", cdcChunksQ _,
      """WITH pos AS (
        | SELECT doc_id, source, text,
        |   unnest(range(8, length(text) + 1)) AS p
        | FROM documents),
        |bd AS (
        | SELECT doc_id, p AS b FROM pos
        | WHERE ('0x' || substring(md5(substring(text, p - 7, 8)), 1, 15))
        |   ::BIGINT % 64 = 0),
        |spans AS (
        | SELECT doc_id,
        |   COALESCE(lag(b) OVER (PARTITION BY doc_id ORDER BY b), 0) AS s,
        |   b AS e
        | FROM bd
        | UNION ALL
        | SELECT d.doc_id,
        |   COALESCE((SELECT max(b) FROM bd WHERE bd.doc_id = d.doc_id), 0),
        |   length(d.text)
        | FROM documents d),
        |chunks AS (
        | SELECT c.doc_id, d.source,
        |   ('0x' || substring(md5(substring(d.text, c.s + 1, c.e - c.s)),
        |     1, 15))::BIGINT AS h
        | FROM spans c JOIN documents d USING (doc_id) WHERE c.e > c.s)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
        | CAST(count(DISTINCT h) AS BIGINT) AS n_distinct,
        | CAST((count(*) - count(DISTINCT h)) * 1000000 // count(*)
        |   AS BIGINT) AS dup_ppm
        |FROM chunks GROUP BY source ORDER BY source""".stripMargin),
    // both assignments via the q56 recursive-CTE min-label components,
    // overlap contingency + window-deterministic top source
    Gate("q269_cluster_evolution", clusterEvolutionQ _,
      """WITH RECURSIVE base AS (SELECT doc_id FROM documents),
        |o_pairs AS (
        | SELECT doc_id AS a, doc_id + 100000 AS b FROM base
        |  WHERE doc_id % 2 = 0
        | UNION SELECT doc_id + 100000, doc_id + 200000 FROM base
        |  WHERE doc_id % 4 = 0),
        |n_pairs AS (
        | SELECT a, b FROM o_pairs
        | UNION SELECT doc_id, doc_id + 3 FROM base WHERE doc_id % 10 = 0
        | UNION SELECT doc_id + 200000, doc_id + 100002 FROM base
        |  WHERE doc_id % 20 = 0
        | UNION SELECT doc_id + 300000, doc_id + 400000 FROM base
        |  WHERE doc_id % 25 = 0),
        |o_edges AS (SELECT a AS u, b AS v FROM o_pairs
        |            UNION SELECT b, a FROM o_pairs),
        |o_ids AS (SELECT u AS id FROM o_edges UNION SELECT v FROM o_edges),
        |o_reach(id, lbl) AS (
        | SELECT id, id FROM o_ids
        | UNION
        | SELECT e.u, r.lbl FROM o_edges e JOIN o_reach r ON e.v = r.id),
        |o_asg AS (SELECT id, min(lbl) AS c FROM o_reach GROUP BY id),
        |n_edges AS (SELECT a AS u, b AS v FROM n_pairs
        |            UNION SELECT b, a FROM n_pairs),
        |n_ids AS (SELECT u AS id FROM n_edges UNION SELECT v FROM n_edges),
        |n_reach(id, lbl) AS (
        | SELECT id, id FROM n_ids
        | UNION
        | SELECT e.u, r.lbl FROM n_edges e JOIN n_reach r ON e.v = r.id),
        |n_asg AS (SELECT id, min(lbl) AS c FROM n_reach GROUP BY id),
        |j AS (SELECT n.id, n.c AS new_c, o.c AS old_c
        |      FROM n_asg n LEFT JOIN o_asg o USING (id)),
        |ov AS (SELECT new_c, old_c, CAST(count(*) AS BIGINT) AS shared
        |       FROM j GROUP BY 1, 2),
        |osz AS (SELECT c AS old_c, CAST(count(*) AS BIGINT) AS old_size
        |        FROM o_asg GROUP BY 1),
        |top AS (SELECT new_c, old_c AS top_source, shared AS top_shared,
        |  row_number() OVER (PARTITION BY new_c
        |    ORDER BY shared DESC, old_c) AS rn
        | FROM ov WHERE old_c IS NOT NULL QUALIFY rn = 1),
        |agg AS (SELECT new_c,
        |  CAST(sum(shared) AS BIGINT) AS n_members,
        |  CAST(COALESCE(sum(shared) FILTER (old_c IS NULL), 0) AS BIGINT)
        |    AS n_new_members,
        |  CAST(count(*) FILTER (old_c IS NOT NULL) AS BIGINT) AS n_sources
        | FROM ov GROUP BY 1)
        |SELECT a.new_c AS cluster_id, a.n_members, a.n_new_members,
        | a.n_sources, COALESCE(t.top_source, -1) AS top_source,
        | CASE WHEN a.n_sources = 0 THEN 'new'
        |      WHEN a.n_sources >= 2 THEN 'merged'
        |      WHEN a.n_new_members = 0 AND t.top_shared = s.old_size
        |        THEN 'unchanged'
        |      ELSE 'grown' END AS status
        |FROM agg a LEFT JOIN top t USING (new_c)
        | LEFT JOIN osz s ON t.top_source = s.old_c
        |ORDER BY cluster_id""".stripMargin),
    // the same (count DESC, term) leaderboards, full-outer diffed;
    // QUALIFY keeps each side's top-25 before the join
    Gate("q268_rank_shift", rankShiftQ _,
      """WITH tok AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |o AS (SELECT term, count(*) AS c FROM tok WHERE doc_id % 2 = 0
        |      GROUP BY 1),
        |n AS (SELECT term, count(*) AS c FROM tok WHERE doc_id % 2 = 1
        |      GROUP BY 1),
        |ot AS (SELECT term, row_number() OVER (ORDER BY c DESC, term) AS r
        |       FROM o QUALIFY r <= 25),
        |nt AS (SELECT term, row_number() OVER (ORDER BY c DESC, term) AS r
        |       FROM n QUALIFY r <= 25)
        |SELECT COALESCE(ot.term, nt.term) AS term,
        | CAST(COALESCE(ot.r, -1) AS BIGINT) AS old_rank,
        | CAST(COALESCE(nt.r, -1) AS BIGINT) AS new_rank,
        | CASE WHEN ot.r IS NULL THEN 'entered'
        |      WHEN nt.r IS NULL THEN 'exited'
        |      WHEN ot.r = nt.r THEN 'stable'
        |      WHEN nt.r < ot.r THEN 'up' ELSE 'down' END AS status,
        | CAST(CASE WHEN ot.r IS NOT NULL AND nt.r IS NOT NULL
        |      THEN ot.r - nt.r ELSE 0 END AS BIGINT) AS delta
        |FROM ot FULL JOIN nt USING (term) ORDER BY term""".stripMargin),
    // Hamilton apportionment term for term: integer floor/remainder,
    // spare rows by (rem DESC, n DESC, lang), md5 pick within stratum
    Gate("q267_largest_remainder", largestRemainderQ _,
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n
        |  FROM documents GROUP BY lang),
        |t AS (SELECT sum(n) AS nt FROM c),
        |a0 AS (SELECT lang, n, (137 * n) // nt AS fl,
        |  (137 * n) % nt AS rem FROM c, t),
        |x AS (SELECT 137 - sum(fl) AS spare FROM a0),
        |a AS (SELECT lang, fl + CASE WHEN row_number()
        |    OVER (ORDER BY rem DESC, n DESC, lang) <= spare
        |    THEN 1 ELSE 0 END AS k
        |  FROM a0, x),
        |r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8),
        |      doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang FROM r JOIN a USING (lang)
        |WHERE rk <= k ORDER BY doc_id""".stripMargin),
    // The identical integer rank: hash60(doc_id) // n_chars (both
    // engines truncate toward zero), (rank, hash, id) total order
    Gate("q263_weighted_reservoir", weightedReservoirQ _,
      """WITH h AS (SELECT doc_id, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS hv
        | FROM documents),
        |r AS (SELECT doc_id, n_chars, hv, hv // n_chars AS rnk FROM h),
        |s AS (SELECT doc_id, n_chars,
        |  row_number() OVER (ORDER BY rnk, hv, doc_id) AS sample_rank
        | FROM r)
        |SELECT CAST(sample_rank AS BIGINT) AS sample_rank, doc_id, n_chars
        |FROM s WHERE sample_rank <= 100 ORDER BY sample_rank""".stripMargin),
    // Same boilerplate injection, same per-(source, line) distinct-doc
    // threshold, same drop-every-occurrence semantics and ordered
    // newline reassembly.
    Gate("q108_boilerplate", boilerplateQ _,
      """WITH d2 AS (
        | SELECT doc_id, source,
        |  'NAVIGATION MENU ' || source || chr(10) ||
        |  CASE WHEN doc_id % 2 = 0
        |       THEN 'SUBSCRIBE to the ' || source || ' newsletter' || chr(10)
        |       ELSE '' END ||
        |  text || chr(10) ||
        |  'ref ' || CAST(doc_id AS VARCHAR) || chr(10) ||
        |  'Copyright ' || source || ' - all rights reserved' AS text
        | FROM documents),
        |ls AS (SELECT doc_id, source,
        |  string_split(text, chr(10)) AS lines FROM d2),
        |ln AS (SELECT doc_id, source, lines,
        |  unnest(range(1, len(lines) + 1)) AS i FROM ls),
        |l2 AS (SELECT doc_id, source, CAST(i - 1 AS INT) AS line_idx,
        |  lines[i] AS line FROM ln),
        |b AS (SELECT source, line
        | FROM (SELECT source, line, count(DISTINCT doc_id) AS nd
        |       FROM l2 GROUP BY source, line)
        | WHERE nd >= 10)
        |SELECT doc_id, count(*) AS n_lines,
        | count(*) FILTER (WHERE b.line IS NOT NULL) AS n_boiler,
        | coalesce(string_agg(CASE WHEN b.line IS NULL THEN l2.line END,
        |   chr(10) ORDER BY line_idx), '') AS clean_text
        |FROM l2 LEFT JOIN b USING (source, line)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // The canonicalization ALGORITHM restated generically (regexp parts,
    // default-port strip, trailing-slash strip, tracking-param filter,
    // bytewise param sort) over the same messy URL construction.
    Gate("q109_url_dedup", urlDedupQ _,
      """WITH u AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.Example'
        |       ELSE 'https://www.example' END
        |  || CAST(doc_id % 7 AS VARCHAR) || '.COM'
        |  || CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END
        |  || '/articles/item' || CAST(doc_id % 50 AS VARCHAR)
        |  || CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END
        |  || CASE WHEN doc_id % 2 = 0
        |       THEN '?b=2&a=1&utm_source=feed&gclid=XYZ'
        |       ELSE '?a=1&b=2' END
        |  || CASE WHEN doc_id % 5 = 0 THEN '#section-2' ELSE '' END AS url
        | FROM documents),
        |parts AS (
        | SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    AS scheme,
        |  lower(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS hostraw,
        |  regexp_replace(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)', 1), '/+$', '')
        |    AS path,
        |  regexp_extract(regexp_replace(url, '#.*$', ''), '\?(.*)$', 1)
        |    AS query
        | FROM u),
        |kf AS (
        | SELECT doc_id, scheme, hostraw, path,
        |  list_sort(list_filter(string_split(query, '&'),
        |   p -> p <> '' AND NOT starts_with(p, 'utm_')
        |    AND NOT (p = 'gclid' OR starts_with(p, 'gclid='))
        |    AND NOT (p = 'fbclid' OR starts_with(p, 'fbclid='))
        |    AND NOT (p = 'ref' OR starts_with(p, 'ref=')))) AS kept
        | FROM parts),
        |canon AS (
        | SELECT doc_id,
        |  scheme || '://' ||
        |  CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |       WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |       ELSE hostraw END
        |  || path ||
        |  CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
        |       ELSE '' END AS canonical_url
        | FROM kf)
        |SELECT canonical_url, min(doc_id) AS doc_id, count(*) AS n_dupes
        |FROM canon GROUP BY canonical_url
        |ORDER BY canonical_url""".stripMargin),
    // q83's chunk construction, reordered by the identical
    // md5-epoch-permutation key, same manifest aggregation.
    Gate("q103_epoch_shuffle", epochShufflePackQ _,
      """WITH tk AS (
        | SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        | FROM documents),
        |ch AS (SELECT doc_id, unnest(list_transform(range(0,
        |   CASE WHEN len(toks) = 0 THEN 0
        |        WHEN len(toks) <= 32 THEN 1
        |        ELSE CAST(ceil((len(toks) - 32) / 32.0) AS BIGINT) + 1 END),
        |  i -> struct_pack(chunk_idx := i,
        |    n_tokens := least(32, len(toks) - i*32)))) AS s
        | FROM tk),
        |c2 AS (SELECT doc_id, CAST(s.chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(s.n_tokens AS BIGINT) AS n_tokens FROM ch),
        |k AS (SELECT doc_id, chunk_idx, n_tokens,
        |  md5('3:' || CAST(doc_id AS VARCHAR)) ||
        |    lpad(CAST(chunk_idx AS VARCHAR), 10, '0') AS key
        | FROM c2),
        |p AS (SELECT doc_id, chunk_idx, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY key
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS st
        | FROM k),
        |x AS (SELECT doc_id, st, st + n_tokens - 1 AS fin,
        |  unnest(generate_series(CAST(st // 512 AS BIGINT),
        |    CAST((st + n_tokens - 1) // 512 AS BIGINT))) AS seq_id
        | FROM p)
        |SELECT seq_id, count(*) AS n_chunks,
        | count(DISTINCT doc_id) AS n_docs,
        | CAST(sum(least(fin, (seq_id + 1) * 512 - 1)
        |   - greatest(st, seq_id * 512) + 1) AS BIGINT) AS n_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    // The grouped prefix sum restated as the per-group window it equals.
    Gate("q102_grouped_pack", groupedPackQ _,
      """SELECT source, doc_id,
        | CAST(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS UNBOUNDED PRECEDING) - n_chars AS BIGINT) AS cum_weight,
        | CAST((sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |   ROWS UNBOUNDED PRECEDING) - n_chars) // 15000 AS BIGINT)
        |   AS shard_id
        |FROM documents ORDER BY source, doc_id""".stripMargin),
    // The aggregate's (weight DESC, item ASC) order restated as the
    // row_number window it provably equals (TopKAggSpec).
    Gate("q101_top_terms", topTermsQ _,
      """WITH toks AS (
        | SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |tf AS (SELECT source, term, count(*) AS cnt
        |       FROM toks GROUP BY source, term),
        |r AS (SELECT source, term, cnt, row_number() OVER (
        |        PARTITION BY source ORDER BY cnt DESC, term) AS rank
        |      FROM tf)
        |SELECT source, CAST(rank AS BIGINT) AS rank, term, cnt
        |FROM r WHERE rank <= 3 ORDER BY source, rank""".stripMargin),
    // The q27 exhaustive-pair recount joined to the q77 md5-cut split on
    // both pair sides; a pair leaks when its sides' splits differ.
    Gate("q100_split_leakage", splitLeakageQ _,
      s"""WITH c AS (
         | SELECT doc_id, lower(text) AS t FROM documents
         | UNION ALL SELECT doc_id + 100000 AS doc_id, lower(text) AS t
         | FROM documents),
         |g AS (
         | SELECT doc_id,
         |  list_distinct(list_transform(range(1, greatest(length(t) - 6, 1) + 1),
         |   i -> substring(t, CAST(i AS INT), 7))) AS sh
         | FROM c),
         |p AS (
         | SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         |  len(list_intersect(a.sh, b.sh)) AS inter,
         |  len(a.sh) AS la, len(b.sh) AS lb
         | FROM g a JOIN g b ON a.doc_id < b.doc_id
         | WHERE len(a.sh) >= 0.95 * len(b.sh)
         |   AND len(b.sh) >= 0.95 * len(a.sh)),
         |prs AS (
         | SELECT doc_id_a, doc_id_b FROM p
         | WHERE CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) >= 0.95),
         |sp AS (
         | SELECT doc_id,
         |  CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |        < '${graft.functions.Sampling.thresholdHex(0.8)}' THEN 'train'
         |       WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |        < '${graft.functions.Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val'
         |       ELSE 'test' END AS split
         | FROM c)
         |SELECT doc_id_a, doc_id_b, sa.split AS split_a, sb.split AS split_b,
         | sa.split <> sb.split AS leaks
         |FROM prs
         | JOIN sp sa ON sa.doc_id = doc_id_a
         | JOIN sp sb ON sb.doc_id = doc_id_b
         |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    // The composed card: q95's fertility sums + q81's KMV restatement +
    // q93's cell/probe construction + a deterministic per-source argmax,
    // joined per source.
    Gate("q99_data_card", dataCardQ _,
      s"""WITH RECURSIVE ${bpeCtes("source")},
        |toks AS (
        | SELECT source, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
        | FROM documents),
        |fert AS (
        | SELECT b.source, b.n_docs, b.n_words,
        |  coalesce(c.n_bpe_tokens, 0) AS n_bpe_tokens, b.n_chars
        | FROM (
        |  SELECT source, count(*) AS n_docs,
        |   CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
        |     AS n_words,
        |   CAST(sum(length(text)) AS BIGINT) AS n_chars
        |  FROM documents GROUP BY source) b
        | LEFT JOIN bpe_counts c USING (source)),
        |h AS (SELECT DISTINCT source,
        |  ('0x' || substring(md5(term), 1, 15))::BIGINT AS h FROM toks),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY source) AS m FROM h),
        |kmv AS (SELECT source,
        |  CAST(least(min(m), 256) AS INT) AS sketch_size,
        |  CASE WHEN min(m) < 256 THEN min(m)::DOUBLE
        |       ELSE CAST(255 AS DOUBLE) /
        |         (max(CASE WHEN rn = 256 THEN h END)::DOUBLE
        |           / 1152921504606846976.0::DOUBLE) END AS est_distinct,
        |  CAST(min(m) AS BIGINT) AS n_distinct_terms
        | FROM r GROUP BY source),
        |cells AS (
        | SELECT depth,
        |  ('0x' || substring(md5(CAST(depth AS VARCHAR) || ':' || term),
        |    1, 15))::BIGINT % 1024 AS bucket,
        |  count(*) AS c
        | FROM toks, (SELECT unnest(generate_series(0, 3)) AS depth)
        | GROUP BY depth, bucket),
        |tf AS (SELECT source, term, count(*) AS cnt
        |       FROM toks GROUP BY source, term),
        |top AS (SELECT source, term AS top_term, cnt AS top_cnt FROM (
        |  SELECT source, term, cnt, row_number() OVER (
        |    PARTITION BY source ORDER BY cnt DESC, term) AS rk FROM tf)
        | WHERE rk = 1),
        |pr AS (
        | SELECT term, depth,
        |  ('0x' || substring(md5(CAST(depth AS VARCHAR) || ':' || term),
        |    1, 15))::BIGINT % 1024 AS bucket
        | FROM (SELECT DISTINCT top_term AS term FROM top),
        |      (SELECT unnest(generate_series(0, 3)) AS depth)),
        |est AS (SELECT term, min(coalesce(c, 0)) AS top_term_est
        |        FROM pr LEFT JOIN cells USING (depth, bucket)
        |        GROUP BY term)
        |SELECT f.source, f.n_docs, f.n_words, f.n_bpe_tokens,
        | f.n_bpe_tokens::DOUBLE / greatest(f.n_words, 1)::DOUBLE
        |   AS fertility,
        | f.n_chars::DOUBLE / greatest(f.n_bpe_tokens, 1)::DOUBLE
        |   AS chars_per_token,
        | k.sketch_size, k.est_distinct, k.n_distinct_terms,
        | t.top_term, t.top_cnt, e.top_term_est
        |FROM fert f JOIN kmv k USING (source) JOIN top t USING (source)
        | JOIN est e ON e.term = t.top_term
        |ORDER BY source""".stripMargin),
    // Benchmark decontamination report: distinct 8-gram shingles per doc,
    // hits against the benchmark's (doc_id % 7 = 0) distinct shingle union.
    Gate("q66_decontam", decontamQ _,
      s"""WITH tk AS (
         | SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         | FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM tk),
         |bs AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 7 = 0),
         |ds AS (SELECT doc_id, unnest(sh) AS g FROM sh),
         |agg AS (
         | SELECT ds.doc_id, count(*) AS n_shingles, count(bs.g) AS n_hits
         | FROM ds LEFT JOIN bs ON ds.g = bs.g GROUP BY ds.doc_id)
         |SELECT doc_id, n_shingles, n_hits,
         | n_hits::DOUBLE / n_shingles::DOUBLE AS contam_frac,
         | n_hits > 0 AS contaminated
         |FROM agg ORDER BY doc_id""".stripMargin),
    // the q66 shingle-overlap machinery + the wave split and both
    // admission flags: wave = which landing batch carried the doc,
    // admitted ≡ zero benchmark hits (maxFrac = 0)
    Gate("q295_stream_contam", streamContaminationQ _,
      s"""WITH tk AS (
         | SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         | FROM documents),
         |sh AS (SELECT doc_id, ${shinglesSql("toks")} AS sh FROM tk),
         |bs AS (SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 7 = 0),
         |ds AS (SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id < 60),
         |agg AS (
         | SELECT ds.doc_id, count(*) AS n_shingles, count(bs.g) AS n_hits
         | FROM ds LEFT JOIN bs ON ds.g = bs.g GROUP BY ds.doc_id)
         |SELECT doc_id,
         | CAST(CASE WHEN doc_id < 30 THEN 0 ELSE 1 END AS BIGINT) AS wave,
         | n_shingles, n_hits,
         | n_hits::DOUBLE / n_shingles::DOUBLE AS contam_frac,
         | n_hits > 0 AS contaminated, n_hits = 0 AS admitted
         |FROM agg ORDER BY doc_id""".stripMargin),
    // PII injection restated, then the same three-regex redact + counts.
    Gate("q67_pii_redact", piiRedactQ _,
      s"""WITH p AS (
         | SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) ||
         |  '@mail.example.com call ' || CAST(doc_id % 700 + 300 AS VARCHAR) ||
         |  '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
         |  ' from 203.0.' || CAST(doc_id % 256 AS VARCHAR) || '.77' AS text
         | FROM documents)
         |SELECT doc_id, ${piiRedactSql("text")} AS redacted,
         | CAST(len(regexp_extract_all(text, '${Pii.emailPattern}')) AS BIGINT) AS n_email,
         | CAST(len(regexp_extract_all(text, '${Pii.phonePattern}')) AS BIGINT) AS n_phone,
         | CAST(len(regexp_extract_all(text, '${Pii.ipv4Pattern}')) AS BIGINT) AS n_ip
         |FROM p ORDER BY doc_id""".stripMargin),
    // Corpus-wide first-occurrence line dedup over the clone corpus; the
    // window's (doc_id, line_idx) order is total, so row_number is exact.
    Gate("q68_line_dedup", lineDedupQ _,
      s"""WITH c AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 100000, text FROM documents),
         |tk AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM c),
         |ln AS (SELECT doc_id, unnest(${lineStructsSql("toks")}) AS s FROM tk),
         |l2 AS (SELECT doc_id, s.line_idx AS line_idx, s.line AS line FROM ln),
         |k AS (SELECT doc_id, line_idx, line,
         |  row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) = 1 AS keep
         | FROM l2)
         |SELECT doc_id, count(*) AS n_lines,
         | count(*) FILTER (WHERE keep) AS n_kept,
         | coalesce(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE keep), '') AS kept_text
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    Gate("q69_quality_classifier", qualityClassifierQ _,
      s"""WITH tk AS (
         | SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         | FROM documents)
         |SELECT doc_id, ${logitSql("toks")} AS logit,
         | ${logitSql("toks")} > 0.0::DOUBLE AS keep
         |FROM tk ORDER BY doc_id""".stripMargin),
    // Gopher repetition rules: exact integer counts divided once — the
    // doubles restate bit-identically whatever the counting algorithm.
    Gate("q70_repetition", repetitionQ _,
      s"""WITH tk AS (
         | SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         | FROM documents),
         |m AS (SELECT doc_id, toks,
         |  ${lineListSql("toks")} AS ls,
         |  ${bigramsSql("toks")} AS bg
         | FROM tk),
         |f AS (SELECT doc_id,
         |  (len(toks) - len(list_distinct(toks)))::DOUBLE
         |   / greatest(len(toks), 1)::DOUBLE AS dup_token_frac,
         |  (len(ls) - len(list_distinct(ls)))::DOUBLE
         |   / greatest(len(ls), 1)::DOUBLE AS dup_line_frac,
         |  ${topBigramFracSql("bg")} AS top_bigram_frac
         | FROM m)
         |SELECT doc_id, dup_token_frac, dup_line_frac, top_bigram_frac,
         | dup_line_frac <= 0.2::DOUBLE AND top_bigram_frac <= 0.2::DOUBLE AS keep
         |FROM f ORDER BY doc_id""".stripMargin),
    // The whole round-6 curation chain restated stage-for-stage: PII redact
    // → first-occurrence line dedup → logit/repetition gates → strict
    // 8-gram decontamination (NOT IN the contaminated id set ≡ left anti).
    Gate("q71_curation_full", curationFullQ _,
      s"""WITH d AS (SELECT doc_id, text FROM documents),
         |c AS (SELECT doc_id, text FROM d
         |      UNION ALL SELECT doc_id + 100000, text FROM d),
         |red AS (SELECT doc_id, ${piiRedactSql("text")} AS text FROM c),
         |tk AS (SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks FROM red),
         |ln AS (SELECT doc_id, unnest(${lineStructsSql("toks")}) AS s FROM tk),
         |l2 AS (SELECT doc_id, s.line_idx AS line_idx, s.line AS line FROM ln),
         |k AS (SELECT doc_id, line_idx, line,
         |  row_number() OVER (PARTITION BY line ORDER BY doc_id, line_idx) = 1 AS keep
         | FROM l2),
         |surv AS (
         | SELECT doc_id,
         |  coalesce(string_agg(line, ' ' ORDER BY line_idx) FILTER (WHERE keep), '') AS text
         | FROM k GROUP BY doc_id
         | HAVING count(*) FILTER (WHERE keep) > 0),
         |tk2 AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         |        FROM surv),
         |bgx AS (SELECT doc_id, toks, ${bigramsSql("toks")} AS bg FROM tk2),
         |gate AS (SELECT doc_id, toks, len(toks) AS n_toks,
         |  ${logitSql("toks")} AS logit,
         |  ${topBigramFracSql("bg")} AS top_bigram_frac
         | FROM bgx),
         |g2 AS (SELECT * FROM gate
         |       WHERE logit > -0.05::DOUBLE AND top_bigram_frac <= 0.5::DOUBLE),
         |bs AS (SELECT DISTINCT unnest(${shinglesSql("toks")}) AS g
         |       FROM (SELECT regexp_extract_all(lower(text), '\\S+') AS toks
         |             FROM d WHERE doc_id % 7 = 0)),
         |contam AS (SELECT DISTINCT x.doc_id
         | FROM (SELECT doc_id, unnest(${shinglesSql("toks")}) AS g FROM g2) x
         | JOIN bs ON x.g = bs.g)
         |SELECT doc_id, CAST(n_toks AS BIGINT) AS n_tokens, logit
         |FROM g2 WHERE doc_id NOT IN (SELECT doc_id FROM contam)
         |ORDER BY doc_id""".stripMargin),
    // Fixed-budget sliding windows restated with the same start grid and
    // inclusive slices; chunk count = 1 for short docs, else
    // ceil((m - max) / stride) + 1.
    Gate("q72_chunking", chunkingQ _,
      s"""WITH tk AS (
         | SELECT doc_id, regexp_extract_all(text, '\\S+') AS toks
         | FROM documents),
         |ch AS (SELECT doc_id, unnest(list_transform(range(0,
         |   CASE WHEN len(toks) = 0 THEN 0
         |        WHEN len(toks) <= 32 THEN 1
         |        ELSE CAST(ceil((len(toks) - 32) / 24.0) AS BIGINT) + 1 END),
         |  i -> struct_pack(chunk_idx := i,
         |    chunk_text := array_to_string(toks[i*24+1 : i*24+32], ' '),
         |    n_tokens := least(32, len(toks) - i*24)))) AS s
         | FROM tk)
         |SELECT doc_id, CAST(s.chunk_idx AS INT) AS chunk_idx,
         | s.chunk_text AS chunk_text, CAST(s.n_tokens AS BIGINT) AS n_tokens
         |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin),
    // OOV against the deterministic top-50 vocabulary (q58's heavy-hitter
    // ordering: occurrences DESC, term — the tie cut is exact either side).
    Gate("q73_oov_rate", oovRateQ _,
      s"""WITH toks AS (
         | SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
         | FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
         |       GROUP BY doc_id, term),
         |hh AS (SELECT term FROM (
         | SELECT term, CAST(sum(tf) AS BIGINT) AS occurrences
         | FROM tf GROUP BY term
         | ORDER BY occurrences DESC, term LIMIT 50)),
         |agg AS (
         | SELECT t.doc_id, count(*) AS n_tokens,
         |  count(CASE WHEN h.term IS NULL THEN 1 END) AS n_oov
         | FROM toks t LEFT JOIN hh h ON t.term = h.term
         | GROUP BY t.doc_id)
         |SELECT doc_id, n_tokens, n_oov,
         | n_oov::DOUBLE / n_tokens::DOUBLE AS oov_rate
         |FROM agg ORDER BY doc_id""".stripMargin),
    // Portable simhash restated natively: md5-top-60-bit token hash, ±1
    // votes per bit, sign pack — identical long to SimHashPortableExpr.
    Gate("q28_simhash", simhashQ _,
      s"""WITH h AS (
         | SELECT doc_id, list_transform(regexp_extract_all(lower(text), '\\S+'),
         |   t -> $hash60Sql) AS hs
         | FROM documents)
         |SELECT doc_id, ${simhashSql("hs")} AS simhash
         |FROM h ORDER BY doc_id""".stripMargin),
    // literal hashes -> pair fence -> transitive closure as a recursive
    // CTE with min-label clusters (the q56/q130 pattern): the planted
    // O~X~Y chain merges only through the closure
    // the q297 page-rebuild + extraction chain (dup pages share the
    // original's content id, so their extracted text is identical),
    // then every curation stage re-run in SQL: q24 lang scores, q23
    // quality formula, min-id window dedup, q66 shingle contamination
    Gate("q298_crawl_curation", crawlCurationQ _,
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 48),
         |recs AS (SELECT doc_id AS rec_id, doc_id AS content_id, text
         |          FROM d
         |         UNION ALL SELECT doc_id + 1000, doc_id, text FROM d
         |          WHERE doc_id % 5 = 0),
         |pg AS (SELECT rec_id,
         |  'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
         |  'Content-Type: text/html' || chr(13)||chr(10)||chr(13)||chr(10) ||
         |  '<html><head><title>Doc ' || CAST(content_id AS VARCHAR) ||
         |  '</title><style>p{margin:0}</style></head><body><h1>Doc ' ||
         |  CAST(content_id AS VARCHAR) || '</h1><p>' || text ||
         |  '</p><script>var x = 1 &amp;&amp; 2;</script>' ||
         |  '<p>A &amp; B &lt;tag&gt; &quot;q&#39;s&quot;&nbsp;end</p>' ||
         |  '</body></html>' AS payload FROM recs),
         |b AS (SELECT rec_id,
         |  substring(payload,
         |    strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4)
         |    AS s FROM pg),
         |x1 AS (SELECT rec_id,
         |  regexp_replace(s, '(?is)<script.*?</script>', ' ', 'g') AS s
         | FROM b),
         |x2 AS (SELECT rec_id,
         |  regexp_replace(s, '(?is)<style.*?</style>', ' ', 'g') AS s
         | FROM x1),
         |x3 AS (SELECT rec_id,
         |  regexp_replace(s, '(?s)<[^>]*>', ' ', 'g') AS s FROM x2),
         |x4 AS (SELECT rec_id,
         |  replace(replace(replace(replace(replace(replace(s,
         |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
         |    '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
         | FROM x3),
         |x5 AS (SELECT rec_id,
         |  trim(regexp_replace(s, '\\s+', ' ', 'g')) AS s FROM x4
         |  UNION ALL
         |  SELECT 5000, 'Hostile It${"’"}s A${"—"}B ABC tail text'),
         |sc AS (SELECT rec_id, s,
         |  len(list_filter(regexp_extract_all(lower(s), '\\S+'),
         |    x -> x IN ('the','and','of','is'))) AS s_en,
         |  len(list_filter(regexp_extract_all(lower(s), '\\S+'),
         |    x -> x IN ('el','la','de','los'))) AS s_es,
         |  len(list_filter(regexp_extract_all(lower(s), '\\S+'),
         |    x -> x IN ('der','und','die','das'))) AS s_de,
         |  len(list_filter(regexp_extract_all(lower(s), '\\S+'),
         |    x -> x IN ('le','et','les','des'))) AS s_fr,
         |  CAST(length(s) AS BIGINT) AS len,
         |  len(regexp_extract_all(s, '[^A-Za-z0-9\\s]'))::DOUBLE
         |    / greatest(length(s), 1)::DOUBLE AS punct_ratio,
         |  len(list_filter(regexp_extract_all(lower(s), '\\S+'),
         |    x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE
         |    / greatest(len(regexp_extract_all(s, '\\S+')), 1)::DOUBLE
         |    AS stopword_ratio
         | FROM x5),
         |lq AS (SELECT rec_id, s,
         |  CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
         |        THEN 'en'
         |       WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
         |       WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_pred,
         |  0.5 * least(len::DOUBLE / 1000.0, 1.0) + 0.3 * (1.0 - punct_ratio)
         |   + 0.2 * stopword_ratio AS quality
         | FROM sc),
         |kd AS (SELECT rec_id, s, lang_pred, quality,
         |  rec_id = min(rec_id) OVER (PARTITION BY s) AS keep_dedup
         | FROM lq),
         |btk AS (SELECT regexp_extract_all(lower(text), '\\S+') AS toks
         |        FROM documents WHERE doc_id % 7 = 0),
         |bs AS (SELECT DISTINCT unnest(${shinglesSql("toks")}) AS g
         |       FROM btk),
         |dtk AS (SELECT rec_id, regexp_extract_all(lower(s), '\\S+')
         |          AS toks FROM kd),
         |dsh AS (SELECT rec_id, unnest(${shinglesSql("toks")}) AS g
         |        FROM dtk),
         |ct AS (SELECT dsh.rec_id, count(bs.g) AS n_hits
         |       FROM dsh LEFT JOIN bs ON dsh.g = bs.g GROUP BY 1)
         |SELECT k.rec_id, k.lang_pred, k.quality, k.keep_dedup,
         | ct.n_hits > 0 AS contaminated,
         | k.keep_dedup AND ct.n_hits = 0 AND k.lang_pred = 'en'
         |   AS admitted
         |FROM kd k JOIN ct USING (rec_id)
         |ORDER BY rec_id""".stripMargin),
    // the pages rebuilt in SQL (same HTTP wrap, same HTML, same planted
    // entities), then the IDENTICAL extraction chain: header split at
    // the first CRLFCRLF, script/style blocks whole, tags, the six
    // entities (&amp; last), whitespace collapse
    Gate("q297_warc_ingest", warcIngestQ _,
      """WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 48),
        |pg AS (SELECT doc_id,
        |  'HTTP/1.1 200 OK' || chr(13) || chr(10) ||
        |  'Content-Type: text/html' || chr(13)||chr(10)||chr(13)||chr(10) ||
        |  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
        |  '</title><style>p{margin:0}</style></head><body><h1>Doc ' ||
        |  CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
        |  '</p><script>var x = 1 &amp;&amp; 2;</script>' ||
        |  '<p>A &amp; B &lt;tag&gt; &quot;q&#39;s&quot;&nbsp;end</p>' ||
        |  '</body></html>' AS payload FROM d),
        |b AS (SELECT doc_id,
        |  CASE WHEN strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) = 0
        |   THEN payload
        |   ELSE substring(payload,
        |     strpos(payload, chr(13)||chr(10)||chr(13)||chr(10)) + 4)
        |  END AS s FROM pg),
        |x1 AS (SELECT doc_id,
        |  regexp_replace(s, '(?is)<script.*?</script>', ' ', 'g') AS s
        | FROM b),
        |x2 AS (SELECT doc_id,
        |  regexp_replace(s, '(?is)<style.*?</style>', ' ', 'g') AS s
        | FROM x1),
        |x3 AS (SELECT doc_id,
        |  regexp_replace(s, '(?s)<[^>]*>', ' ', 'g') AS s FROM x2),
        |x4 AS (SELECT doc_id,
        |  replace(replace(replace(replace(replace(replace(s,
        |    '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS s
        | FROM x3),
        |x5 AS (SELECT doc_id,
        |  trim(regexp_replace(s, '\s+', ' ', 'g')) AS s FROM x4)
        |SELECT doc_id,
        | 'https://example.com/doc/' || CAST(doc_id AS VARCHAR)
        |   AS target_uri,
        | md5(s) AS text_md5, CAST(length(s) AS BIGINT) AS n_chars
        |FROM x5 ORDER BY doc_id""".stripMargin),
    // both modality pair sets in one statement — image hashes as
    // literals from the fixed fixture bytes, caption Jaccard from the
    // documents table via the q27 shingle machinery — then the joint
    // transitive closure and the min-id keep rule
    Gate("q296_pair_curation", pairCurationQ _, {
      val P = graft.multimodal.ImagePixels
      val rows = (0L until 24L).map(s =>
          s -> P.dHashOf(P.fixturePayload(s, 72, 64, "png")).get) ++
        (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
          P.dHashOf(P.fixturePayload(s, 144, 128, "bmp", shift = 3)).get) ++
        (0L until 24L).filter(_ % 4 == 0).map(s => (s + 200000L) ->
          P.dHashOf(P.fixturePayload(s + 500L, 72, 64, "png")).get)
      val vals = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      s"""WITH RECURSIVE img(pair_id, dhash) AS (VALUES $vals),
         |cap AS (
         | SELECT doc_id AS pair_id, doc_id AS cap_doc FROM documents
         |  WHERE doc_id < 24
         | UNION ALL SELECT doc_id + 100000, doc_id + 24 FROM documents
         |  WHERE doc_id < 24 AND doc_id % 3 = 0
         | UNION ALL SELECT doc_id + 200000, doc_id FROM documents
         |  WHERE doc_id < 24 AND doc_id % 4 = 0),
         |ct AS (SELECT c.pair_id, lower(d.text) AS t
         |       FROM cap c JOIN documents d ON d.doc_id = c.cap_doc),
         |g AS (SELECT pair_id,
         |  list_distinct(list_transform(
         |    range(1, greatest(length(t) - 6, 1) + 1),
         |    i -> substring(t, CAST(i AS INT), 7))) AS sh
         | FROM ct),
         |tp AS (SELECT a.pair_id AS u, b.pair_id AS v
         | FROM g a JOIN g b ON a.pair_id < b.pair_id
         | WHERE len(a.sh) >= 0.95 * len(b.sh)
         |   AND len(b.sh) >= 0.95 * len(a.sh)
         |   AND CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
         |     / greatest(len(a.sh) + len(b.sh)
         |                - len(list_intersect(a.sh, b.sh)), 1) >= 0.95),
         |ip AS (SELECT a.pair_id AS u, b.pair_id AS v
         | FROM img a JOIN img b ON a.pair_id < b.pair_id
         |  AND bit_count(xor(a.dhash, b.dhash)) <= 4),
         |e0 AS (SELECT u, v FROM ip UNION SELECT u, v FROM tp),
         |edges AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
         |reach(id, lbl) AS (
         | SELECT pair_id, pair_id FROM cap
         | UNION
         | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
         |cl AS (SELECT id AS pair_id, CAST(min(lbl) AS BIGINT)
         |         AS cluster_id
         |       FROM reach GROUP BY id)
         |SELECT pair_id, cluster_id, pair_id = cluster_id AS keep
         |FROM cl ORDER BY pair_id""".stripMargin
    }),
    Gate("q291_golden_images", goldenImagesQ _, {
      val P = graft.multimodal.ImagePixels
      val rows = (0L until 24L).map(s =>
          s -> P.dHashOf(P.fixturePayload(s, 72, 64, "png")).get) ++
        (0L until 24L).filter(_ % 2 == 0).map(s => (s + 100000L) ->
          P.dHashOf(P.fixturePayload(s, 72, 64, "png",
            divergeRows = Seq(2))).get) ++
        (0L until 24L).filter(_ % 2 == 0).map(s => (s + 200000L) ->
          P.dHashOf(P.fixturePayload(s, 72, 64, "png",
            divergeRows = Seq(2, 5))).get) ++
        (0L until 24L).filter(_ % 3 == 0).map(s => (s + 300000L) ->
          P.dHashOf(P.fixturePayload(s, 144, 128, "bmp", shift = 3)).get)
      val vals = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      s"""WITH RECURSIVE h(media_id, dhash) AS (VALUES $vals),
         |p AS (SELECT a.media_id AS id_a, b.media_id AS id_b
         | FROM h a JOIN h b ON a.media_id < b.media_id
         |  AND bit_count(xor(a.dhash, b.dhash)) <= 4),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         |          UNION SELECT id_b, id_a FROM p),
         |reach(id, lbl) AS (
         | SELECT media_id, media_id FROM h
         | UNION
         | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
         |cl AS (SELECT id AS media_id, CAST(min(lbl) AS BIGINT)
         |         AS cluster_id
         |       FROM reach GROUP BY id)
         |SELECT media_id, cluster_id, media_id = cluster_id AS canonical
         |FROM cl ORDER BY media_id""".stripMargin
    }),
    // every (video, sampled position, frame dHash) restated as literals
    // from the fixed fixture bytes (decoded through the same ImageIO
    // reader), then the per-position hamming + match-count rule in SQL
    Gate("q290_video_neardup", videoNearDupQ _, {
      val V = graft.multimodal.VideoFrames
      def hs(id: Long, seed: Long, w: Int, h: Int, shift: Int, rate: Int,
             div: Int): Seq[(Long, Int, Long)] =
        V.sampledHashes(V.gifPayload(seed, 12, w, h, shift, rate, div), 8)
          .get._2.zipWithIndex.map { case (fh, j) => (id, j, fh) }
      val rows = (0L until 12L).flatMap(s =>
          hs(s, s, 72, 64, 0, 1, Int.MaxValue)) ++
        (0L until 12L).filter(_ % 3 == 0).flatMap(s =>
          hs(s + 100000L, s, 144, 128, 3, 2, Int.MaxValue)) ++
        (0L until 12L).filter(_ % 4 == 0).flatMap(s =>
          hs(s + 200000L, s, 72, 64, 0, 1, 6))
      val vals = rows.map { case (id, j, fh) =>
        s"(CAST($id AS BIGINT), $j, CAST($fh AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, sample_idx, fhash) AS (VALUES $vals),
         |p AS (SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         |  CAST(count(*) AS BIGINT) AS n_matched
         | FROM h a JOIN h b ON a.media_id < b.media_id
         |   AND a.sample_idx = b.sample_idx
         |   AND bit_count(xor(a.fhash, b.fhash)) <= 4
         | GROUP BY 1, 2)
         |SELECT * FROM p WHERE n_matched >= 4
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // every (video, sampled position, hash) restated from the CONTENT
    // frames directly — dHash64 over the deltaContentFrame render,
    // never through the GIF reader — so the composited decode of BOTH
    // the full-frame and the delta encode must land on the same
    // renderer-independent literal; the truncated payload keeps as the
    // one null row
    Gate("q292_video_delta", videoDeltaCompositeQ _, {
      val V = graft.multimodal.VideoFrames
      val P = graft.multimodal.ImagePixels
      val rows = (0L until 10L).flatMap { seed =>
        val hs = (0 until 8).map { j =>
          (j, P.dHash64(V.deltaContentFrame(seed, (j.toLong * 12 / 8).toInt,
            72, 64)))
        }
        hs.map { case (j, fh) => (seed, 12, j, fh) } ++
          hs.map { case (j, fh) => (seed + 100000L, 12, j, fh) }
      }
      val vals = rows.map { case (id, n, j, fh) =>
        s"(CAST($id AS BIGINT), $n, $j, CAST($fh AS BIGINT))"
      }.mkString(", ") +
        ", (CAST(999999 AS BIGINT), CAST(NULL AS INTEGER), " +
        "CAST(NULL AS INTEGER), CAST(NULL AS BIGINT))"
      s"""WITH h(media_id, n_frames, sample_idx, fhash) AS (VALUES $vals)
         |SELECT media_id, n_frames, sample_idx, fhash FROM h
         |ORDER BY media_id, sample_idx""".stripMargin
    }),
    // every parsed (fingerprint, track count, duration) restated as
    // literals from the fixed fixture bytes (same EBML walk on the
    // driver) + the collision equi-join — the q300 SQL shape
    Gate("q304_webm_remux", webmRemuxDedupQ _, {
      val M = graft.multimodal.WebmTracks
      def row(id: Long, seed: Long, remux: Boolean) = {
        val m = M.parse(M.webmPayload(seed, remux = remux)).get
        (id, M.streamFingerprint(m), m.tracks.size, m.durationMs)
      }
      val rows = (0L until 12L).map(s => row(s, s, remux = false)) ++
        (0L until 12L).filter(_ % 3 == 0)
          .map(s => row(s + 100000L, s, remux = true))
      val vals = rows.map { case (id, fp, nt, dur) =>
        s"(CAST($id AS BIGINT), CAST($fp AS BIGINT), $nt, " +
          s"CAST($dur AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, stream_fp, n_tracks, duration_ms) AS
         | (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | a.stream_fp AS stream_fp, a.n_tracks AS n_tracks,
         | a.duration_ms AS duration_ms
         |FROM h a JOIN h b
         | ON a.stream_fp = b.stream_fp AND a.media_id < b.media_id
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // every walked (fingerprint, frame count, duration) restated as
    // literals from the fixed fixture bytes (same frame walk on the
    // driver) + the collision equi-join — the q300 SQL shape
    Gate("q303_mp3_retag", mp3RetagDedupQ _, {
      val M = graft.multimodal.Mp3Frames
      def row(id: Long, seed: Long, retag: Long) = {
        val m = M.parse(M.mp3Payload(seed, retagSeed = retag)).get
        (id, m.streamFp, m.nFrames, m.durationMs)
      }
      val rows = (0L until 12L).map(s => row(s, s, 0L)) ++
        (0L until 12L).filter(_ % 3 == 0)
          .map(s => row(s + 100000L, s, 77L))
      val vals = rows.map { case (id, fp, nf, dur) =>
        s"(CAST($id AS BIGINT), CAST($fp AS BIGINT), $nf, " +
          s"CAST($dur AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, stream_fp, n_frames, duration_ms) AS
         | (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | a.stream_fp AS stream_fp, a.n_frames AS n_frames,
         | a.duration_ms AS duration_ms
         |FROM h a JOIN h b
         | ON a.stream_fp = b.stream_fp AND a.media_id < b.media_id
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // every fixture hash restated as a literal (decoded by the same
    // WAV + FLAC codecs on the driver) + the greedy cross-wave drop
    // rule — the q286 SQL shape on the audio modality
    Gate("q301_stream_audio_dedup", streamAudioDedupQ _, {
      val A = graft.multimodal.AudioSamples
      val F = graft.multimodal.FlacCodec
      def v(rows: Seq[(Long, Long)]): String = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      val w1 = (0L until 24L).map(s => s -> A.audioHashOfAny(
        A.wavPayloadDepth(s, 65 * 60, 44100, "pcm16")).get)
      val w2 = (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
          A.audioHashOfAny(F.flacPayload(s, 65 * 60, 44100)).get) ++
        (24L until 30L).map(s => (s + 200000L) -> A.audioHashOfAny(
          A.wavPayloadDepth(s, 65 * 60, 44100, "pcm16")).get)
      s"""WITH w1(media_id, ahash) AS (VALUES ${v(w1)}),
         |w2(media_id, ahash) AS (VALUES ${v(w2)}),
         |drops AS (SELECT DISTINCT n.media_id FROM w2 n JOIN w1 o
         |          ON bit_count(xor(n.ahash, o.ahash)) <= 4)
         |SELECT media_id, CAST(0 AS BIGINT) AS wave FROM w1
         |UNION ALL SELECT media_id, CAST(1 AS BIGINT) FROM w2
         | WHERE media_id NOT IN (SELECT media_id FROM drops)
         |UNION ALL SELECT CAST(999999 AS BIGINT), CAST(1 AS BIGINT)
         |ORDER BY media_id""".stripMargin
    }),
    // every parsed (fingerprint, track count, duration) restated as
    // literals from the fixed fixture bytes (parsed by the same box
    // walk on the driver) + the collision equi-join in SQL
    Gate("q300_mp4_remux", mp4RemuxDedupQ _, {
      val M = graft.multimodal.Mp4Boxes
      def row(id: Long, seed: Long, remux: Boolean) = {
        val m = M.parse(M.mp4Payload(seed, remux = remux)).get
        (id, M.streamFingerprint(m), m.tracks.size, m.durationMs)
      }
      val rows = (0L until 12L).map(s => row(s, s, remux = false)) ++
        (0L until 12L).filter(_ % 3 == 0)
          .map(s => row(s + 100000L, s, remux = true))
      val vals = rows.map { case (id, fp, nt, dur) =>
        s"(CAST($id AS BIGINT), CAST($fp AS BIGINT), $nt, " +
          s"CAST($dur AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, stream_fp, n_tracks, duration_ms) AS
         | (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | a.stream_fp AS stream_fp, a.n_tracks AS n_tracks,
         | a.duration_ms AS duration_ms
         |FROM h a JOIN h b
         | ON a.stream_fp = b.stream_fp AND a.media_id < b.media_id
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // the q283 literal-hash restatement verbatim: the tar round trip
    // is byte-exact, so the imported corpus decodes to the SAME hashes
    // and the same exhaustive pair set
    Gate("q289_tar_image_dedup", tarImageDedupQ _, {
      val P = graft.multimodal.ImagePixels
      val rows = (0L until 24L).map(s =>
          s -> P.dHashOf(P.fixturePayload(s, 72, 64, "png")).get) ++
        (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
          P.dHashOf(P.fixturePayload(s, 144, 128, "bmp", shift = 3)).get)
      val vals = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, dhash) AS (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // per-recording energy-envelope hashes restated as literals from
    // the SAME fixed WAV fixture bytes (decode -> mono mix -> 65-window
    // envelope on the driver; the q283 discipline), then the exhaustive
    // all-pairs hamming join — the 8x8-bit chunk stage is
    // pigeonhole-exact at maxDist 4
    Gate("q288_audio_neardup", audioNearDupQ _, {
      val A = graft.multimodal.AudioSamples
      val rows = (0L until 24L).map(s =>
          s -> A.audioHashOf(A.wavPayload(s, 65 * 60, 44100)).get) ++
        (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
          A.audioHashOf(A.wavPayload(s, 65 * 120, 22050, channels = 2,
            gainShift = 1)).get)
      val vals = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, ahash) AS (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // fingerprint literals from the same fixture bytes — WAV through
    // the RIFF normalization, FLAC through the full subset decoder —
    // then the exhaustive pairs join: cross-CODEC clones collide at 0
    Gate("q299_audio_crosscodec", audioCrossCodecQ _, {
      val A = graft.multimodal.AudioSamples
      val F = graft.multimodal.FlacCodec
      val rows = (0L until 24L).map(s => s -> A.audioHashOfAny(
          A.wavPayloadDepth(s, 65 * 60, 44100, "pcm16")).get) ++
        (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
          A.audioHashOfAny(F.flacPayload(s, 65 * 60, 44100, channels = 2,
            order = 2, stereoMode = "mid-side")).get) ++
        (0L until 24L).filter(_ % 4 == 0).map(s => (s + 200000L) ->
          A.audioHashOfAny(F.flacPayload(s, 65 * 30, 22050, order = 1,
            partitionOrder = 2)).get)
      val vals = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, ahash) AS (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // per-recording fingerprints restated as literals from the SAME
    // fixed multi-depth fixture bytes (driver-decoded through the same
    // canonical-domain normalization), then the exhaustive all-pairs
    // hamming join — every planted cross-format clone collides at 0
    Gate("q293_audio_crossfmt", audioCrossFormatQ _, {
      val A = graft.multimodal.AudioSamples
      def h(id: Long, seed: Long, n: Int, rate: Int, fmt: String,
            ch: Int = 1, ext: Boolean = false): (Long, Long) =
        id -> A.audioHashOfAny(
          A.wavPayloadDepth(seed, n, rate, fmt, ch, ext)).get
      val rows = (0L until 24L).map(s =>
          h(s, s, 65 * 60, 44100, "pcm16")) ++
        (0L until 24L).filter(_ % 3 == 0).map(s =>
          h(s + 100000L, s, 65 * 60, 44100, "pcm24", ch = 2, ext = true)) ++
        (0L until 24L).filter(_ % 4 == 0).map(s =>
          h(s + 200000L, s, 65 * 30, 22050, "f32")) ++
        (0L until 24L).filter(_ % 6 == 0).map(s =>
          h(s + 300000L, s, 65 * 60, 44100, "pcm8"))
      val vals = rows.map { case (id, v) =>
        s"(CAST($id AS BIGINT), CAST($v AS BIGINT))" }.mkString(", ")
      s"""WITH h(media_id, ahash) AS (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | CAST(bit_count(xor(a.ahash, b.ahash)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.ahash, b.ahash)) <= 4
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // wave-1 and wave-2 dHash literals from the SAME fixed fixture
    // bytes + the greedy cross-wave drop rule (within-batch pairs are
    // deliberately not compared, matching the runner); the truncated
    // payload keeps via the null-hash path
    Gate("q286_stream_image_dedup", streamImageDedupQ _, {
      val P = graft.multimodal.ImagePixels
      def v(rows: Seq[(Long, Long)]): String = rows.map { case (id, h) =>
        s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }.mkString(", ")
      val w1 = (0L until 24L).map(s =>
        s -> P.dHashOf(P.fixturePayload(s, 72, 64, "png")).get)
      val w2 = (0L until 24L).filter(_ % 2 == 0).map(s => (s + 100000L) ->
          P.dHashOf(P.fixturePayload(s, 144, 128, "bmp", shift = 3)).get) ++
        (24L until 36L).map(s => (s + 200000L) ->
          P.dHashOf(P.fixturePayload(s, 72, 64, "png")).get)
      s"""WITH w1(media_id, dhash) AS (VALUES ${v(w1)}),
         |w2(media_id, dhash) AS (VALUES ${v(w2)}),
         |drops AS (SELECT DISTINCT n.media_id FROM w2 n JOIN w1 o
         |          ON bit_count(xor(n.dhash, o.dhash)) <= 4)
         |SELECT media_id, CAST(0 AS BIGINT) AS wave FROM w1
         |UNION ALL SELECT media_id, CAST(1 AS BIGINT) FROM w2
         | WHERE media_id NOT IN (SELECT media_id FROM drops)
         |UNION ALL SELECT CAST(999999 AS BIGINT), CAST(1 AS BIGINT)
         |ORDER BY media_id""".stripMargin
    }),
    // canonical-pixel fingerprints as literals from the fixed fixture
    // bytes: the BMP re-encode of each PNG shares its fingerprint, so
    // min-id keeps exactly the originals; NULL fp (truncated) keeps
    Gate("q287_pixel_dedup", pixelDedupQ _, {
      val P = graft.multimodal.ImagePixels
      val rows = (0L until 24L).flatMap { s =>
        val fp = P.pixelFingerprint(P.fixturePayload(s, 72, 64, "png")).get
        Seq(s -> fp, (s + 100000L) -> fp)
      }
      val vals = (rows.map { case (id, fp) =>
        s"(CAST($id AS BIGINT), '$fp')" } :+
        "(CAST(999999 AS BIGINT), NULL)").mkString(", ")
      s"""WITH f(media_id, pixel_fp) AS (VALUES $vals),
         |k AS (SELECT pixel_fp, min(media_id) AS keeper FROM f
         |      WHERE pixel_fp IS NOT NULL GROUP BY 1)
         |SELECT f.media_id,
         | (f.pixel_fp IS NULL OR f.media_id = k.keeper) AS keep
         |FROM f LEFT JOIN k ON k.pixel_fp = f.pixel_fp
         |ORDER BY f.media_id""".stripMargin
    }),
    // per-image dHash values restated as literals from the SAME fixed
    // fixture bytes (render -> ImageIO encode -> decode -> dHash on the
    // driver; the q92 matrix-interpolation precedent), then the
    // exhaustive all-pairs hamming join — the engine's 8x8-bit-chunk
    // candidate stage is pigeonhole-exact at maxDist 4, so sets match
    Gate("q283_image_neardup", imageNearDupQ _, {
      val P = graft.multimodal.ImagePixels
      val rows = (0L until 24L).map(s =>
          s -> P.dHashOf(P.fixturePayload(s, 72, 64, "png")).get) ++
        (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
          P.dHashOf(P.fixturePayload(s, 144, 128, "bmp", shift = 3)).get)
      val vals = rows
        .map { case (id, h) =>
          s"(CAST($id AS BIGINT), CAST($h AS BIGINT))" }
        .mkString(", ")
      s"""WITH h(media_id, dhash) AS (VALUES $vals)
         |SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
         | CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
         |FROM h a JOIN h b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.dhash, b.dhash)) <= 4
         |ORDER BY media_id_a, media_id_b""".stripMargin
    }),
    // All-pairs hamming over the clone corpus: the engine's 15-bit-chunk
    // candidate stage is pigeonhole-exact, so the exhaustive SQL matches.
    Gate("q38_simhash_neardup", simhashNearDupQ _,
      s"""WITH c AS (
         | SELECT doc_id, lower(text) AS txt FROM documents
         | UNION ALL SELECT doc_id + 100000, lower(text) FROM documents),
         |h AS (
         | SELECT doc_id, list_transform(regexp_extract_all(txt, '\\S+'),
         |   t -> $hash60Sql) AS hs
         | FROM c),
         |sh AS (SELECT doc_id, ${simhashSql("hs")} AS sim FROM h)
         |SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
         | CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
         |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sim, b.sim)) <= 3
         |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    Gate("q42_ivf_topk", ivfTopKQ _, ivfOracle()),
    Gate("q76_semantic_dedup", semanticDedupQ _, semanticDedupOracle()),
    // the q76 cell machinery + per-vector different-label argmax
    Gate("q158_hard_negatives", hardNegativesQ _,
      (s"""WITH ${lloydCtes("embeddings", 16, 3, 4096)},
          |assign AS (
          | SELECT vec_id, embedding, label, cell FROM (
          |  SELECT e.vec_id, e.embedding, e.label, c.cell,
          |   row_number() OVER (PARTITION BY e.vec_id
          |     ORDER BY ${distSql("e.embedding", "c.v")}, c.cell) AS rk
          |  FROM embeddings e, c3 c) WHERE rk = 1),
          |p AS (
          | SELECT a.vec_id, b.vec_id AS neg_id, b.label AS neg_label,
          |  $cosExpr AS cosine_sim
          | FROM assign a JOIN assign b
          |  ON a.cell = b.cell AND a.label <> b.label),
          |best AS (
          | SELECT vec_id, neg_id, neg_label, cosine_sim FROM (
          |  SELECT *, row_number() OVER (PARTITION BY vec_id
          |    ORDER BY cosine_sim DESC, neg_id) AS rk FROM p)
          | WHERE rk = 1)
          |SELECT a.vec_id, a.label, CAST(a.cell AS INT) AS cell,
          | b.neg_id, b.neg_label, b.cosine_sim
          |FROM assign a LEFT JOIN best b ON a.vec_id = b.vec_id
          |ORDER BY a.vec_id""".stripMargin)),
    // Duplicated 8-token windows (stride 1) over the clone corpus: the
    // same portable span hash, (doc, hash) → (hash) counts, a window is
    // duplicated when its hash totals ≥ 2 anywhere in the corpus.
    Gate("q74_span_dedup", spanDedupQ _,
      s"""WITH c AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 100000, text FROM documents),
         |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         |       FROM c),
         |sp AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
         |  THEN list_transform(range(1, len(toks) - 6), i ->
         |   ('0x' || substring(md5(array_to_string(toks[i : i+7], ' ')), 1, 15))::BIGINT)
         |  ELSE []::BIGINT[] END) AS h
         | FROM tk),
         |pd AS (SELECT doc_id, h, count(*) AS cnt FROM sp GROUP BY doc_id, h),
         |tot AS (SELECT h, sum(cnt) AS total FROM pd GROUP BY h),
         |agg AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_spans,
         |  CAST(sum(CASE WHEN total >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS n_dup_spans
         | FROM pd JOIN tot USING (h) GROUP BY doc_id),
         |r AS (SELECT c.doc_id,
         |  CAST(coalesce(n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(coalesce(n_dup_spans, 0) AS BIGINT) AS n_dup_spans
         | FROM c LEFT JOIN agg USING (doc_id))
         |SELECT doc_id, n_spans, n_dup_spans,
         | n_dup_spans::DOUBLE / greatest(n_spans, 1)::DOUBLE AS dup_span_frac,
         | n_dup_spans::DOUBLE / greatest(n_spans, 1)::DOUBLE <= 0.5::DOUBLE AS keep
         |FROM r ORDER BY doc_id""".stripMargin),
    // Bit-length surprisal against the corpus' own unigram counts: exact
    // integer bits (unpadded-binary lengths agree between engines), one
    // double division at the end.
    Gate("q75_surprisal", surprisalQ _,
      (s"WITH $surprisalCte\n" +
      """SELECT doc_id, n_tokens, sum_bits,
         | sum_bits::DOUBLE / greatest(n_tokens, 1)::DOUBLE AS mean_bits
         |FROM r ORDER BY doc_id""".stripMargin)),
    // The q81 sketch construction, ungrouped and SATURATED (500 distinct
    // fingerprints > k): the CASE takes the true estimator branch.
    Gate("q97_kmv_saturated", kmvSaturatedQ _,
      """WITH fps AS (
        | SELECT md5(array_to_string(regexp_extract_all(lower(text), '\S+'),
        |   ' ')) AS fp
        | FROM documents),
        |h AS (SELECT DISTINCT
        |  ('0x' || substring(md5(fp), 1, 15))::BIGINT AS h FROM fps),
        |r AS (SELECT h, row_number() OVER (ORDER BY h) AS rn,
        |  count(*) OVER () AS m FROM h)
        |SELECT CAST(least(min(m), 256) AS INT) AS sketch_size,
        | CASE WHEN min(m) < 256 THEN min(m)::DOUBLE
        |      ELSE CAST(255 AS DOUBLE) /
        |        (max(CASE WHEN rn = 256 THEN h END)::DOUBLE
        |          / 1152921504606846976.0::DOUBLE) END AS est_distinct,
        | CAST(min(m) AS BIGINT) AS n_exact
        |FROM r""".stripMargin),
    // Projected-space cosine with the interpolated sign chains, the q31
    // exact-space CTE, and the deterministic overlap flag.
    Gate("q96_projected_recall", projectedRecallQ _, {
      val signs = graft.functions.Similarity.signMatrix(64, 8)
      val chains = signs.map { row =>
        row.zipWithIndex.map { case (sgn, i) =>
          s"embedding[${i + 1}]::DOUBLE * ${sgn}::DOUBLE"
        }.mkString(" + ")
      }.map(c => s"($c)").mkString(", ")
      s"""WITH pr AS (SELECT vec_id, [$chains] AS p FROM embeddings),
         |qp AS (SELECT p FROM pr WHERE vec_id = 0),
         |sims AS (SELECT pr.vec_id,
         |  list_sum(list_transform(range(1, 9), i -> pr.p[i] * qp.p[i]))
         |   / greatest(
         |    sqrt(list_sum(list_transform(range(1, 9), i -> pr.p[i] * pr.p[i]))) *
         |    sqrt(list_sum(list_transform(range(1, 9), i -> qp.p[i] * qp.p[i]))),
         |    1e-12) AS proj_sim
         | FROM pr, qp),
         |ptop AS (SELECT vec_id, proj_sim FROM sims
         |         ORDER BY proj_sim DESC, vec_id LIMIT 10),
         |b AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
         |etop AS (SELECT a.vec_id, $cosExpr AS cosine_sim
         |         FROM embeddings a, b
         |         ORDER BY cosine_sim DESC, a.vec_id LIMIT 10)
         |SELECT p.vec_id, p.proj_sim,
         | e.vec_id IS NOT NULL AS in_exact_topk
         |FROM ptop p LEFT JOIN etop e USING (vec_id)
         |ORDER BY proj_sim DESC, p.vec_id""".stripMargin
    }),
    // Exact integer volumes (the q22 token regexes) divided once.
    // fertility measured against the REAL embedded vocabulary: the bpe
    // CTEs restate the greedy longest-match segmentation over the same
    // generated lookup table the Spark expression compiles into a trie
    Gate("q95_tokenizer_fertility", fertilityQ _,
      s"""WITH RECURSIVE ${bpeCtes("lang")},
         |base AS (
         | SELECT lang, count(*) AS n_docs,
         |  CAST(sum(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
         |    AS n_words,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars
         | FROM documents GROUP BY lang)
         |SELECT b.lang, b.n_docs, b.n_words,
         | coalesce(c.n_bpe_tokens, 0) AS n_bpe_tokens, b.n_chars,
         | coalesce(c.n_bpe_tokens, 0)::DOUBLE
         |  / greatest(b.n_words, 1)::DOUBLE AS fertility,
         | b.n_chars::DOUBLE
         |  / greatest(coalesce(c.n_bpe_tokens, 0), 1)::DOUBLE
         |   AS chars_per_token
         |FROM base b LEFT JOIN bpe_counts c USING (lang)
         |ORDER BY lang""".stripMargin),
    // The q42/q76 Lloyd chain, assignment over the full table, then the
    // (cell, label) composition counts.
    Gate("q94_cluster_composition", clusterCompositionQ _, {
      s"""WITH ${lloydCtes("embeddings", 16, 3, 4096)},
         |assign AS (
         | SELECT vec_id, cell FROM (
         |  SELECT e.vec_id, c.cell,
         |   row_number() OVER (PARTITION BY e.vec_id
         |     ORDER BY ${distSql("e.embedding", "c.v")}, c.cell) AS rk
         |  FROM embeddings e, c3 c) WHERE rk = 1)
         |SELECT CAST(a.cell AS INT) AS cell, e.label, count(*) AS n_vecs
         |FROM assign a JOIN embeddings e USING (vec_id)
         |GROUP BY a.cell, e.label
         |ORDER BY cell, label""".stripMargin
    }),
    // The identical 4×1024 cell construction (md5 seam, depth-salted
    // bucket hash), exact top-20 probe, min-over-depth estimate.
    Gate("q93_countmin", countMinQ _,
      """WITH toks AS (
        | SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |cells AS (
        | SELECT depth,
        |  ('0x' || substring(md5(CAST(depth AS VARCHAR) || ':' || term),
        |    1, 15))::BIGINT % 1024 AS bucket,
        |  count(*) AS c
        | FROM toks, (SELECT unnest(generate_series(0, 3)) AS depth)
        | GROUP BY depth, bucket),
        |top AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term
        |        ORDER BY cnt DESC, term LIMIT 20),
        |probe AS (
        | SELECT term, depth,
        |  ('0x' || substring(md5(CAST(depth AS VARCHAR) || ':' || term),
        |    1, 15))::BIGINT % 1024 AS bucket
        | FROM top, (SELECT unnest(generate_series(0, 3)) AS depth)),
        |est AS (SELECT term, min(coalesce(c, 0)) AS est_count
        |        FROM probe LEFT JOIN cells USING (depth, bucket) GROUP BY term)
        |SELECT t.term, t.cnt, e.est_count
        |FROM top t JOIN est e USING (term)
        |ORDER BY cnt DESC, term""".stripMargin),
    // The identical hash-derived sign matrix interpolated as explicit
    // left-associated addition chains (reduceLeft ≡ SQL left assoc).
    Gate("q92_sign_projection", randomProjectionQ _, {
      val signs = graft.functions.Similarity.signMatrix(64, 8)
      val structs = signs.zipWithIndex.map { case (row, j) =>
        val chain = row.zipWithIndex.map { case (sgn, i) =>
          s"embedding[${i + 1}]::DOUBLE * ${sgn}::DOUBLE"
        }.mkString(" + ")
        s"struct_pack(pdim := $j, pval := ($chain))"
      }.mkString(", ")
      s"""WITH x AS (SELECT vec_id, unnest([$structs]) AS s
         |           FROM embeddings)
         |SELECT vec_id, CAST(s.pdim AS INT) AS pdim, s.pval AS pval
         |FROM x ORDER BY vec_id, pdim""".stripMargin
    }),
    // The q62 bigram CTE + the q75 bit-length seam, conditioned: bits =
    // len(bin(Σ_x c(a,x))) − len(bin(c(a,b))).
    Gate("q91_bigram_surprisal", bigramSurprisalQ _,
      s"""WITH toks AS (
         | SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
         | FROM documents),
         |bg AS (
         | SELECT doc_id, unnest(list_transform(range(1, len(t)),
         |   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
         | FROM toks),
         |bf AS (SELECT doc_id, p.w1 AS w1, p.w2 AS w2, count(*) AS bf
         |       FROM bg GROUP BY doc_id, p.w1, p.w2),
         |pc AS (SELECT w1, w2, CAST(sum(bf) AS BIGINT) AS c_ab FROM bf
         |       GROUP BY w1, w2),
         |fc AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a FROM pc
         |       GROUP BY w1),
         |agg AS (SELECT doc_id, CAST(sum(bf) AS BIGINT) AS n_pairs,
         |  CAST(sum(bf * (length(bin(c_a)) - length(bin(c_ab)))) AS BIGINT)
         |    AS sum_bits
         | FROM bf JOIN pc USING (w1, w2) JOIN fc USING (w1)
         | GROUP BY doc_id),
         |r AS (SELECT d.doc_id,
         |  CAST(coalesce(n_pairs, 0) AS BIGINT) AS n_pairs,
         |  CAST(coalesce(sum_bits, 0) AS BIGINT) AS sum_bits
         | FROM documents d LEFT JOIN agg USING (doc_id))
         |SELECT doc_id, n_pairs, sum_bits,
         | sum_bits::DOUBLE / greatest(n_pairs, 1)::DOUBLE AS mean_bits
         |FROM r ORDER BY doc_id""".stripMargin),
    // the whole rewrite restated: packed (doc_id*2^20 + pos) global-first
    // min per span hash, covered-position union, ordered token rejoin
    Gate("q154_span_removal", spanRemovalQ _,
      s"""WITH c AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 100000, text FROM documents),
         |tk AS (SELECT doc_id,
         |        list_filter(regexp_extract_all(lower(coalesce(text, '')),
         |                                       '\\S+'), w -> w <> '') AS toks
         |       FROM c),
         |spl AS (SELECT doc_id,
         |         CASE WHEN len(toks) >= 8
         |          THEN list_transform(range(1, len(toks) - 6),
         |           i -> struct_pack(pos := i - 1,
         |            h := ('0x' || substring(md5(
         |                   array_to_string(toks[i : i+7], ' ')), 1, 15))::BIGINT))
         |          ELSE [] END AS sps
         |        FROM tk),
         |sp AS (SELECT doc_id, unnest(sps) AS u FROM spl),
         |sp2 AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM sp),
         |fo AS (SELECT h, min(doc_id * 1048576 + pos) AS fk FROM sp2 GROUP BY h),
         |later AS (SELECT s.doc_id, s.pos FROM sp2 s JOIN fo USING (h)
         |          WHERE s.doc_id * 1048576 + s.pos <> fk),
         |cov AS (SELECT DISTINCT doc_id, cut FROM (
         |         SELECT doc_id,
         |          unnest(list_transform(range(0, 8), d -> pos + d)) AS cut
         |         FROM later)),
         |tok AS (SELECT doc_id, unnest(list_transform(range(1, len(toks) + 1),
         |          i -> struct_pack(tpos := i - 1, tok := toks[i]))) AS u
         |        FROM tk),
         |tok2 AS (SELECT doc_id, u.tpos AS tpos, u.tok AS tok FROM tok),
         |kept AS (SELECT t.doc_id, t.tpos, t.tok
         |         FROM tok2 t LEFT JOIN cov
         |           ON t.doc_id = cov.doc_id AND t.tpos = cov.cut
         |         WHERE cov.doc_id IS NULL),
         |agg AS (SELECT doc_id, count(*) AS n_kept,
         |         string_agg(tok, ' ' ORDER BY tpos) AS clean_text
         |        FROM kept GROUP BY doc_id)
         |SELECT tk.doc_id,
         | CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         | CAST(len(tk.toks) - coalesce(agg.n_kept, 0) AS BIGINT) AS n_removed,
         | coalesce(agg.clean_text, '') AS clean_text
         |FROM tk LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin),
    // The q74 span CTEs plus the winnow selection: min of every 4-wide
    // hash window, deduplicated per document, then the same
    // document-frequency sharing count.
    Gate("q90_winnow", winnowQ _,
      s"""WITH c AS (
         | SELECT doc_id, text FROM documents
         | UNION ALL SELECT doc_id + 100000, text FROM documents),
         |tk AS (SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS toks
         |       FROM c),
         |sp AS (SELECT doc_id, CASE WHEN len(toks) >= 8
         |  THEN list_transform(range(1, len(toks) - 6), i ->
         |   ('0x' || substring(md5(array_to_string(toks[i : i+7], ' ')), 1, 15))::BIGINT)
         |  ELSE []::BIGINT[] END AS h
         | FROM tk),
         |fp0 AS (SELECT doc_id, unnest(list_distinct(
         |  CASE WHEN len(h) >= 4
         |   THEN list_transform(range(0, len(h) - 3), i -> list_min(h[i+1 : i+4]))
         |   WHEN len(h) > 0 THEN [list_min(h)]
         |   ELSE []::BIGINT[] END)) AS fp
         | FROM sp),
         |dfq AS (SELECT fp, count(*) AS nd FROM fp0 GROUP BY fp),
         |agg AS (SELECT doc_id, count(*) AS n_fps,
         |  CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_shared_fps
         | FROM fp0 JOIN dfq USING (fp) GROUP BY doc_id)
         |SELECT c.doc_id, CAST(coalesce(n_fps, 0) AS BIGINT) AS n_fps,
         | CAST(coalesce(n_shared_fps, 0) AS BIGINT) AS n_shared_fps
         |FROM c LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),
    // The q87 gate CTEs feeding the q83 packing CTEs stage-for-stage —
    // the composed chain restated in one query.
    Gate("q89_dataloader_prep", dataloaderPrepQ _,
      """WITH med AS (
        | SELECT source, quantile_cont(n_chars, 0.5::DOUBLE) AS med
        | FROM documents GROUP BY source),
        |m2 AS (SELECT d.doc_id, d.source, d.n_chars, d.text, med.med,
        |  abs(d.n_chars - med.med) AS dev
        | FROM documents d JOIN med USING (source)),
        |mad AS (SELECT source, quantile_cont(dev, 0.5::DOUBLE) AS mad
        | FROM m2 GROUP BY source),
        |surv AS (SELECT m2.doc_id, m2.text
        | FROM m2 JOIN mad USING (source)
        | WHERE m2.dev <= 3.0::DOUBLE * mad.mad),
        |tk AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        | FROM surv),
        |ch AS (SELECT doc_id, unnest(list_transform(range(0,
        |   CASE WHEN len(toks) = 0 THEN 0
        |        WHEN len(toks) <= 32 THEN 1
        |        ELSE CAST(ceil((len(toks) - 32) / 32.0) AS BIGINT) + 1 END),
        |  i -> struct_pack(chunk_idx := i,
        |    n_tokens := least(32, len(toks) - i*32)))) AS s
        | FROM tk),
        |c2 AS (SELECT doc_id, CAST(s.chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(s.n_tokens AS BIGINT) AS n_tokens FROM ch),
        |p AS (SELECT doc_id, chunk_idx, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS st
        | FROM c2),
        |x AS (SELECT doc_id, st, st + n_tokens - 1 AS fin,
        |  unnest(generate_series(CAST(st // 512 AS BIGINT),
        |    CAST((st + n_tokens - 1) // 512 AS BIGINT))) AS seq_id
        | FROM p)
        |SELECT seq_id, count(*) AS n_chunks,
        | count(DISTINCT doc_id) AS n_docs,
        | CAST(sum(least(fin, (seq_id + 1) * 512 - 1)
        |   - greatest(st, seq_id * 512) + 1) AS BIGINT) AS n_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    // Exhaustive cross-pairs recount (the q27 oracle pattern, bipartite):
    // every (left, right) pair at exact Jaccard ≥ 0.95 on distinct char
    // 7-shingles — the engine's LSH candidates must cover them all.
    Gate("q88_cross_corpus", crossCorpusQ _,
      """WITH l AS (SELECT doc_id, lower(text) AS t FROM documents),
        |r AS (SELECT doc_id + 100000 AS doc_id, lower(text) AS t
        |      FROM documents),
        |gl AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(t) - 6, 1) + 1),
        |   i -> substring(t, CAST(i AS INT), 7))) AS sh
        | FROM l),
        |gr AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(t) - 6, 1) + 1),
        |   i -> substring(t, CAST(i AS INT), 7))) AS sh
        | FROM r),
        |p AS (
        | SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  len(list_intersect(a.sh, b.sh)) AS inter,
        |  len(a.sh) AS la, len(b.sh) AS lb
        | FROM gl a JOIN gr b
        |  ON len(a.sh) >= 0.95 * len(b.sh) AND len(b.sh) >= 0.95 * len(a.sh))
        |SELECT doc_id_a, doc_id_b,
        | CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) >= 0.95
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    // Median/MAD restated with quantile_cont (≡ percentile, the q52/q78
    // seam); integer lengths keep every interpolated value exact.
    Gate("q87_robust_outliers", robustOutlierQ _,
      """WITH med AS (
        | SELECT source, quantile_cont(n_chars, 0.5::DOUBLE) AS med
        | FROM documents GROUP BY source),
        |m2 AS (SELECT d.doc_id, d.source, d.n_chars, med.med,
        |  abs(d.n_chars - med.med) AS dev
        | FROM documents d JOIN med USING (source)),
        |mad AS (SELECT source, quantile_cont(dev, 0.5::DOUBLE) AS mad
        | FROM m2 GROUP BY source)
        |SELECT m2.doc_id, m2.source, m2.n_chars, m2.med, mad.mad,
        | m2.dev <= 3.0::DOUBLE * mad.mad AS keep
        |FROM m2 JOIN mad USING (source) ORDER BY m2.doc_id""".stripMargin),
    // Fixed-point PageRank unrolled: the q62 bigram CTE thresholded at 5,
    // symmetrized by UNION (dedup), then three integer-arithmetic rank
    // iterations — rank div deg contributions, (sum·17) div 20 damping.
    Gate("q86_textrank", textRankQ _,
      """WITH toks AS (
        | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t
        | FROM documents),
        |bg AS (
        | SELECT unnest(list_transform(range(1, len(t)),
        |   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        | FROM toks),
        |pc AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bg
        |       GROUP BY p.w1, p.w2 HAVING count(*) >= 5),
        |e AS (SELECT w1 AS src, w2 AS dst FROM pc
        |      UNION SELECT w2, w1 FROM pc),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        |n0 AS (SELECT DISTINCT src AS node FROM e),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS rank FROM n0),
        |s1 AS (SELECT e.dst AS node,
        |        CAST(sum(CAST(r.rank // d.deg AS BIGINT)) AS BIGINT) AS s
        |       FROM e JOIN r0 r ON e.src = r.node JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r1 AS (SELECT n0.node,
        |        CAST(150000 + coalesce(s1.s, 0) * 17 // 20 AS BIGINT)
        |          AS rank
        |       FROM n0 LEFT JOIN s1 USING (node)),
        |s2 AS (SELECT e.dst AS node,
        |        CAST(sum(CAST(r.rank // d.deg AS BIGINT)) AS BIGINT) AS s
        |       FROM e JOIN r1 r ON e.src = r.node JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r2 AS (SELECT n0.node,
        |        CAST(150000 + coalesce(s2.s, 0) * 17 // 20 AS BIGINT)
        |          AS rank
        |       FROM n0 LEFT JOIN s2 USING (node)),
        |s3 AS (SELECT e.dst AS node,
        |        CAST(sum(CAST(r.rank // d.deg AS BIGINT)) AS BIGINT) AS s
        |       FROM e JOIN r2 r ON e.src = r.node JOIN d ON e.src = d.src
        |       GROUP BY e.dst),
        |r3 AS (SELECT n0.node,
        |        CAST(150000 + coalesce(s3.s, 0) * 17 // 20 AS BIGINT)
        |          AS rank
        |       FROM n0 LEFT JOIN s3 USING (node))
        |SELECT node AS term, rank FROM r3
        |ORDER BY rank DESC, term LIMIT 100""".stripMargin),
    // The KMV sketch restated exactly: bottom-256 distinct md5-hash60
    // values per source (row_number ≤ k), estimate (k−1)/(h_k/2^60) with
    // the same IEEE double shape the engine computes.
    Gate("q81_kmv_distinct", kmvDistinctQ _,
      """WITH toks AS (
        | SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS t
        | FROM documents),
        |h AS (SELECT DISTINCT source,
        |  ('0x' || substring(md5(t), 1, 15))::BIGINT AS h FROM toks),
        |r AS (SELECT source, h,
        |  row_number() OVER (PARTITION BY source ORDER BY h) AS rn,
        |  count(*) OVER (PARTITION BY source) AS m FROM h)
        |SELECT source,
        | CAST(least(min(m), 256) AS INT) AS sketch_size,
        | CASE WHEN min(m) < 256 THEN min(m)::DOUBLE
        |      ELSE CAST(255 AS DOUBLE) /
        |        (max(CASE WHEN rn = 256 THEN h END)::DOUBLE
        |          / 1152921504606846976.0::DOUBLE) END AS est_distinct,
        | CAST(min(m) AS BIGINT) AS n_exact
        |FROM r GROUP BY source ORDER BY source""".stripMargin),
    // Status classification restated as the full outer join the engine's
    // tagged-union aggregation is equivalent to (md5 fingerprints collide
    // only adversarially).
    // the applied table IS the new snapshot; via = whether the row left
    // the patch ('patched': added or changed id) or carried from old
    Gate("q161_snapshot_patch", snapshotPatchQ _,
      """WITH oldv AS (SELECT doc_id, text FROM documents),
        |newv AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        | FROM documents WHERE doc_id % 7 <> 0
        | UNION ALL
        | SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50)
        |SELECT n.doc_id, md5(n.text) AS text_md5,
        | CASE WHEN o.doc_id IS NULL OR o.text <> n.text
        |      THEN 'patched' ELSE 'carried' END AS via
        |FROM newv n LEFT JOIN oldv o ON o.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin),
    Gate("q82_snapshot_diff", snapshotDiffQ _,
      """WITH oldv AS (SELECT doc_id, text FROM documents),
        |newv AS (
        | SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
        | FROM documents WHERE doc_id % 7 <> 0
        | UNION ALL
        | SELECT doc_id + 200000, text FROM documents WHERE doc_id < 50)
        |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.doc_id IS NULL THEN 'added'
        |      WHEN n.doc_id IS NULL THEN 'removed'
        |      WHEN o.text = n.text THEN 'unchanged'
        |      ELSE 'changed' END AS status
        |FROM oldv o FULL OUTER JOIN newv n ON o.doc_id = n.doc_id
        |ORDER BY doc_id""".stripMargin),
    // The q72 chunking CTE at stride 32 (disjoint), a single-window
    // prefix sum (the engine's distributed prefix sum is pinned equal to
    // this form by ShardingSpec), then the straddle explode.
    Gate("q83_seq_pack", seqPackQ _,
      """WITH tk AS (
        | SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        | FROM documents),
        |ch AS (SELECT doc_id, unnest(list_transform(range(0,
        |   CASE WHEN len(toks) = 0 THEN 0
        |        WHEN len(toks) <= 32 THEN 1
        |        ELSE CAST(ceil((len(toks) - 32) / 32.0) AS BIGINT) + 1 END),
        |  i -> struct_pack(chunk_idx := i,
        |    n_tokens := least(32, len(toks) - i*32)))) AS s
        | FROM tk),
        |c2 AS (SELECT doc_id, CAST(s.chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(s.n_tokens AS BIGINT) AS n_tokens FROM ch),
        |p AS (SELECT doc_id, chunk_idx, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY doc_id, chunk_idx
        |    ROWS UNBOUNDED PRECEDING) - n_tokens AS st
        | FROM c2),
        |x AS (SELECT doc_id, st, st + n_tokens - 1 AS fin,
        |  unnest(generate_series(CAST(st // 512 AS BIGINT),
        |    CAST((st + n_tokens - 1) // 512 AS BIGINT))) AS seq_id
        | FROM p)
        |SELECT seq_id, count(*) AS n_chunks,
        | count(DISTINCT doc_id) AS n_docs,
        | CAST(sum(least(fin, (seq_id + 1) * 512 - 1)
        |   - greatest(st, seq_id * 512) + 1) AS BIGINT) AS n_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM x GROUP BY seq_id ORDER BY seq_id""".stripMargin),
    // Quantization audit restated: same calibration, same level formula,
    // only order-independent aggregates (min/max/integer sum) so double
    // accumulation order never matters.
    Gate("q84_quantize_int8", quantizeQ _,
      """WITH x0 AS (
        | SELECT unnest(list_transform(generate_series(1, len(embedding)),
        |   i -> struct_pack(dim := i - 1,
        |     x := CAST(embedding[i] AS DOUBLE)))) AS s
        | FROM embeddings),
        |x AS (SELECT CAST(s.dim AS INT) AS dim, s.x AS x FROM x0),
        |st AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM x GROUP BY dim),
        |j AS (SELECT x.dim, x, mn, mx,
        |  (mx - mn) / 255.0::DOUBLE AS scale FROM x JOIN st USING (dim)),
        |qq AS (SELECT dim, x, mn, mx, scale,
        |  CASE WHEN mx = mn THEN 0
        |       ELSE CAST(floor((x - mn) / scale + 0.5::DOUBLE) AS BIGINT)
        |       END AS q
        | FROM j)
        |SELECT dim, min(mn) AS mn, max(mx) AS mx,
        | CAST(sum(q) AS BIGINT) AS sum_q,
        | count(CASE WHEN q = 255 THEN 1 END) AS n_sat,
        | max(abs(mn + q::DOUBLE * scale - x)) AS max_abs_err
        |FROM qq GROUP BY dim ORDER BY dim""".stripMargin),
    // The inverted-index sparse dot product with the same scaled-integer
    // contributions (floor(qtf·tf·idf·2^20) — long sums commute, so the
    // shuffled aggregation order is irrelevant on both sides).
    Gate("q85_sparse_retrieval", sparseRetrievalQ _,
      """WITH q AS (
        | SELECT term, count(*)::DOUBLE AS qtf FROM (
        |  SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term
        |  FROM documents WHERE doc_id = 0) GROUP BY term),
        |toks AS (SELECT doc_id,
        |  unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf
        | FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
        |sc AS (SELECT doc_id,
        |  CAST(floor(qtf * tf::DOUBLE *
        |    ((n_docs - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)) *
        |    1048576.0::DOUBLE) AS BIGINT) AS c
        | FROM tf JOIN q USING (term) JOIN dfreq USING (term) CROSS JOIN n)
        |SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_scaled,
        | count(*) AS n_terms
        |FROM sc GROUP BY doc_id
        |ORDER BY score_scaled DESC, doc_id LIMIT 10""".stripMargin),
    // Data-card slices: integer volumes plus quantile_cont ≡ percentile
    // (identical linear interpolation, q52 precedent).
    Gate("q78_corpus_stats", corpusStatsQ _,
      """SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS n_tokens,
        | CAST(sum(n_chars) AS BIGINT) AS n_chars_total,
        | quantile_cont(n_chars, 0.5) AS p50_chars,
        | quantile_cont(n_chars, 0.95) AS p95_chars
        |FROM documents GROUP BY source, lang
        |ORDER BY source, lang""".stripMargin),
    // The min-id keeper rule restated: a doc is unique iff it carries the
    // lowest id of its byte-identical text group.
    Gate("q79_dup_rate_source", dupRateBySourceQ _,
      """WITH c AS (
        | SELECT doc_id, text, source FROM documents
        | UNION ALL SELECT doc_id + 100000, text, source FROM documents),
        |k AS (SELECT doc_id, source,
        |  doc_id = min(doc_id) OVER (PARTITION BY text) AS keep
        | FROM c)
        |SELECT source, count(*) AS n_docs,
        | count(CASE WHEN keep THEN 1 END) AS n_unique,
        | count(*) - count(CASE WHEN keep THEN 1 END) AS n_dups,
        | (count(*) - count(CASE WHEN keep THEN 1 END))::DOUBLE
        |   / count(*)::DOUBLE AS dup_rate
        |FROM k GROUP BY source ORDER BY source""".stripMargin),
    // Deterministic top-k vocabulary (occurrences DESC, term) with an
    // exact-integer prefix sum divided once by the exact total.
    Gate("q80_vocab_coverage", vocabCoverageQ _,
      """WITH toks AS (
        | SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |cnts AS (SELECT term, count(*) AS cnt FROM toks GROUP BY term),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM cnts),
        |r AS (SELECT term, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, term) AS rank,
        |  sum(cnt) OVER (ORDER BY cnt DESC, term
        |    ROWS UNBOUNDED PRECEDING) AS cum_cnt
        | FROM cnts)
        |SELECT CAST(rank AS INT) AS rank, term, CAST(cnt AS BIGINT) AS cnt,
        | cum_cnt::DOUBLE / n_total::DOUBLE AS cum_coverage
        |FROM r, tot WHERE rank <= 100 ORDER BY rank""".stripMargin),
    // The identical md5-prefix CASE, thresholds interpolated from the SAME
    // thresholdHex the engine uses (cumulative 0.8, 0.8+0.1).
    Gate("q77_hash_split", hashSplitQ _,
      s"""SELECT doc_id, lang,
         | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |        < '${graft.functions.Sampling.thresholdHex(0.8)}' THEN 'train'
         |      WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8)
         |        < '${graft.functions.Sampling.thresholdHex(0.8 + 0.1)}' THEN 'val'
         |      ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin),
    // BM25 restated step-for-step: identical token sets, identical
    // arithmetic shape (constants written as the same unfolded literals —
    // (1.2 + 1.0), not 2.2 — so both engines IEEE-add the same doubles).
    // Every fractional literal carries ::DOUBLE: DuckDB parses bare
    // decimals as DECIMAL and would otherwise run exact decimal arithmetic
    // (1 ulp off the engine's IEEE doubles) until a double operand joins.
    Gate("q57_bm25_terms", bm25TermsQ _,
      """WITH toks AS (
        | SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |lens AS (
        | SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS len
        | FROM documents),
        |stats AS (
        | SELECT (SELECT count(*)::DOUBLE FROM documents) AS n_docs,
        |        (SELECT avg(len) FROM lens) AS avg_len),
        |scored AS (
        | SELECT t.doc_id, t.term, t.tf,
        |  ((s.n_docs - d.df + 0.5::DOUBLE) / (d.df + 0.5::DOUBLE)) *
        |  (t.tf * (1.2::DOUBLE + 1.0::DOUBLE) / (t.tf + 1.2::DOUBLE *
        |    ((1.0::DOUBLE - 0.75::DOUBLE) + 0.75::DOUBLE * l.len / s.avg_len))) AS score
        | FROM tf t JOIN dfreq d USING (term) JOIN lens l USING (doc_id), stats s),
        |r AS (
        | SELECT doc_id, term, tf, score,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
        | FROM scored)
        |SELECT doc_id, term, tf, score FROM r WHERE rk <= 3
        |ORDER BY doc_id, score DESC, term""".stripMargin),
    Gate("q58_heavy_hitters", heavyHittersQ _,
      """WITH toks AS (
        | SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term)
        |SELECT term, CAST(sum(tf) AS BIGINT) AS occurrences,
        | count(*) AS doc_freq
        |FROM tf GROUP BY term
        |ORDER BY occurrences DESC, term LIMIT 20""".stripMargin),
    // Independent transitive closure: min-label reachability via a
    // recursive CTE over the SAME chain + exact-text pair list.
    // q56's recursive closure rolled up to (size, n_clusters, n_docs)
    Gate("q255_cluster_histogram", clusterHistogramQ _,
      """WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
        |ids AS (
        | SELECT doc_id FROM base
        | UNION ALL SELECT doc_id + 100000 FROM base
        | UNION ALL SELECT doc_id + 200000 FROM base),
        |pairs AS (
        | SELECT doc_id AS a, doc_id + 100000 AS b FROM base
        | UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM base
        | UNION ALL
        | SELECT x.doc_id, y.doc_id FROM base x JOIN base y
        |  ON x.text = y.text AND x.doc_id < y.doc_id
        | UNION ALL SELECT x.doc_id, x.doc_id + 1 FROM base x
        |  JOIN base y ON y.doc_id = x.doc_id + 1 WHERE x.doc_id % 10 = 0
        | UNION ALL SELECT x.doc_id, x.doc_id + 2 FROM base x
        |  JOIN base y ON y.doc_id = x.doc_id + 2
        |  WHERE x.doc_id % 50 = 0),
        |edges AS (SELECT a AS u, b AS v FROM pairs
        |          UNION SELECT b, a FROM pairs),
        |reach(id, lbl) AS (
        | SELECT doc_id, doc_id FROM ids
        | UNION
        | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id),
        |cl AS (SELECT id, min(lbl) AS cluster_id FROM reach GROUP BY id),
        |sz AS (SELECT cluster_id, CAST(count(*) AS BIGINT)
        |         AS cluster_size FROM cl GROUP BY cluster_id)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        | CAST(cluster_size * count(*) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin),
    Gate("q56_dedup_clusters", dedupClustersQ _,
      """WITH RECURSIVE base AS (SELECT doc_id, text FROM documents),
        |ids AS (
        | SELECT doc_id FROM base
        | UNION ALL SELECT doc_id + 100000 FROM base
        | UNION ALL SELECT doc_id + 200000 FROM base),
        |pairs AS (
        | SELECT doc_id AS a, doc_id + 100000 AS b FROM base
        | UNION ALL SELECT doc_id + 100000, doc_id + 200000 FROM base
        | UNION ALL
        | SELECT x.doc_id, y.doc_id FROM base x JOIN base y
        |  ON x.text = y.text AND x.doc_id < y.doc_id),
        |edges AS (SELECT a AS u, b AS v FROM pairs
        |          UNION SELECT b, a FROM pairs),
        |reach(id, lbl) AS (
        | SELECT doc_id, doc_id FROM ids
        | UNION
        | SELECT e.u, r.lbl FROM edges e JOIN reach r ON e.v = r.id)
        |SELECT id AS doc_id, CAST(min(lbl) AS BIGINT) AS cluster_id
        |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin),
    // The composed pipeline restated as one chain; filters before/after
    // dedup commute (all predicates are text-derived), min() aggregates
    // are exact on the identical clone rows.
    Gate("q55_curation", curationQ _,
      """WITH c AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 100000, text FROM documents),
        |m AS (
        | SELECT doc_id, text, CAST(length(text) AS BIGINT) AS len,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
        |    / greatest(length(text), 1)::DOUBLE AS punct_ratio,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE
        |    / greatest(len(regexp_extract_all(text, '\S+')), 1)::DOUBLE AS stopword_ratio,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('the','and','of','is'))) AS s_en,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('el','la','de','los'))) AS s_es,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('der','und','die','das'))) AS s_de,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('le','et','les','des'))) AS s_fr
        | FROM c),
        |f AS (
        | SELECT doc_id, text, len,
        |  0.5 * least(len::DOUBLE / 1000.0, 1.0) + 0.3 * (1.0 - punct_ratio)
        |   + 0.2 * stopword_ratio AS quality
        | FROM m
        | WHERE s_en >= s_es AND s_en >= s_de AND s_en >= s_fr
        |  AND 0.5 * least(len::DOUBLE / 1000.0, 1.0) + 0.3 * (1.0 - punct_ratio)
        |   + 0.2 * stopword_ratio >= 0.55),
        |d AS (
        | SELECT min(doc_id) AS doc_id, min(len) AS len, min(quality) AS quality
        | FROM f GROUP BY text)
        |SELECT doc_id, len, quality FROM d
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '80000000'
        |ORDER BY doc_id""".stripMargin),
    Gate("q22_token_count", tokenCountQ _,
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\s]')) AS BIGINT) AS bpe_tokens
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q23_quality_score", qualityQ _,
      """WITH t AS (
        | SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |  len(regexp_extract_all(text, '[^A-Za-z0-9\s]'))::DOUBLE
        |    / greatest(length(text), 1)::DOUBLE AS punct_ratio,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'),
        |      x -> x IN ('the','a','an','and','or','of','to','in','is','it')))::DOUBLE
        |    / greatest(len(regexp_extract_all(text, '\S+')), 1)::DOUBLE AS stopword_ratio
        | FROM documents)
        |SELECT doc_id, len, punct_ratio, stopword_ratio,
        | 0.5 * least(len::DOUBLE / 1000.0, 1.0) + 0.3 * (1.0 - punct_ratio)
        |  + 0.2 * stopword_ratio AS quality
        |FROM t ORDER BY doc_id""".stripMargin),
    Gate("q24_langid", langIdQ _,
      """WITH s AS (
        | SELECT doc_id, lang,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('the','and','of','is'))) AS s_en,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('el','la','de','los'))) AS s_es,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('der','und','die','das'))) AS s_de,
        |  len(list_filter(regexp_extract_all(lower(text), '\S+'), x -> x IN ('le','et','les','des'))) AS s_fr
        | FROM documents)
        |SELECT doc_id,
        | CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |      WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS lang_pred,
        | lang,
        | (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |      WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END) = lang AS is_match
        |FROM s ORDER BY doc_id""".stripMargin),
    Gate("q25_fingerprint", fingerprintQ _,
      """SELECT doc_id,
        | md5(array_to_string(regexp_extract_all(lower(text), '\S+'), ' ')) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q26_exact_dedup", exactDedupQ _,
      """SELECT min(doc_id) AS doc_id, min(n_chars) AS n_chars FROM (
        | SELECT doc_id, text, n_chars FROM documents
        | UNION ALL SELECT doc_id + 100000, text, n_chars FROM documents) c
        |GROUP BY text ORDER BY doc_id""".stripMargin),
    // Exact restatement: jaccard over distinct char-7-shingle STRING sets
    // equals the engine's hashed-shingle jaccard (no 64-bit collisions on
    // this corpus — verified bit-identical), and the LSH candidate stage is
    // exhaustive here (every qualifying pair shares a band; checked against
    // this very all-pairs SQL at sf0.01 and sf0.001).
    Gate("q27_minhash_neardup", minhashQ _,
      """WITH c AS (
        | SELECT doc_id, lower(text) AS t FROM documents
        | UNION ALL SELECT doc_id + 100000 AS doc_id, lower(text) AS t FROM documents),
        |g AS (
        | SELECT doc_id,
        |  list_distinct(list_transform(range(1, greatest(length(t) - 6, 1) + 1),
        |   i -> substring(t, CAST(i AS INT), 7))) AS sh
        | FROM c),
        |p AS (
        | SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  len(list_intersect(a.sh, b.sh)) AS inter,
        |  len(a.sh) AS la, len(b.sh) AS lb
        | FROM g a JOIN g b ON a.doc_id < b.doc_id
        | WHERE len(a.sh) >= 0.95 * len(b.sh) AND len(b.sh) >= 0.95 * len(a.sh))
        |SELECT doc_id_a, doc_id_b,
        | CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) >= 0.95
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    // Word-3-gram jaccard within (lang, length-band) blocks — the engine's
    // prefix-filter candidates are exact, so the all-pairs SQL matches.
    Gate("q29_ngram_jaccard", ngramJaccardQ _,
      """WITH c AS (
        | SELECT doc_id, lang || '|' || CAST(n_chars // 32 AS VARCHAR) AS block,
        |  regexp_extract_all(lower(text), '\S+') AS toks
        | FROM (SELECT doc_id, lang, n_chars, text FROM documents
        |       UNION ALL SELECT doc_id + 100000 AS doc_id, lang, n_chars, text
        |       FROM documents) u),
        |g AS (
        | SELECT doc_id, block,
        |  list_distinct(CASE WHEN len(toks) >= 3
        |   THEN list_transform(range(1, len(toks) - 1),
        |        i -> array_to_string(toks[i:i+2], ' '))
        |   ELSE [array_to_string(toks, ' ')] END) AS grams
        | FROM c),
        |p AS (
        | SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
        |  len(list_intersect(a.grams, b.grams)) AS inter,
        |  len(a.grams) AS la, len(b.grams) AS lb
        | FROM g a JOIN g b ON a.block = b.block AND a.doc_id < b.doc_id)
        |SELECT doc_id_a, doc_id_b,
        | CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) AS jaccard
        |FROM p WHERE CAST(inter AS DOUBLE) / greatest(la + lb - inter, 1) >= 0.9
        |ORDER BY doc_id_a, doc_id_b""".stripMargin),
    Gate("q60_group_sample", groupSampleQ _,
      """SELECT doc_id, lang FROM (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        | FROM documents)
        |WHERE rk <= 50 ORDER BY doc_id""".stripMargin),
    // bit interleave restated with plain shifts/masks: column 0 (n_chars)
    // owns even bits, column 1 (doc_id) odd bits, 16 bits each
    Gate("q61_zorder_key", zorderKeyQ _,
      """SELECT doc_id, CAST(list_sum(list_transform(range(0, 16), i ->
        |  ((((n_chars & 65535) >> i) & 1)::BIGINT << (2 * i)) +
        |  ((((doc_id & 65535) >> i) & 1)::BIGINT << (2 * i + 1)))) AS BIGINT) AS zkey
        |FROM documents ORDER BY doc_id""".stripMargin),
    // rational PMI with the engine's exact arithmetic shape:
    // (n_pairs · c_ab) / (c_a · c_b), all counts exact-integer doubles
    Gate("q62_collocations", collocationsQ _,
      """WITH toks AS (
        | SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS t FROM documents),
        |bg AS (
        | SELECT unnest(list_transform(range(1, len(t)),
        |   i -> struct_pack(w1 := t[i], w2 := t[i + 1]))) AS p
        | FROM toks),
        |pairs AS (SELECT p.w1 AS w1, p.w2 AS w2 FROM bg),
        |pc AS (SELECT w1, w2, count(*) AS c_ab FROM pairs
        |       GROUP BY w1, w2 HAVING count(*) >= 5),
        |fa AS (SELECT w1, count(*) AS c_a FROM pairs GROUP BY w1),
        |sb AS (SELECT w2, count(*) AS c_b FROM pairs GROUP BY w2),
        |n AS (SELECT count(*)::DOUBLE AS n_pairs FROM pairs)
        |SELECT pc.w1, pc.w2, c_ab,
        | n.n_pairs * CAST(c_ab AS DOUBLE) / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)) AS pmi_ratio
        |FROM pc JOIN fa USING (w1) JOIN sb USING (w2), n
        |ORDER BY pmi_ratio DESC, w1, w2 LIMIT 20""".stripMargin),
    // bloom prefilter is pruning only → oracle = dedup-then-anti-join
    Gate("q63_incremental_dedup", incrementalDedupQ _,
      """WITH corpus AS (SELECT md5(text) AS fp FROM documents),
        |batch AS (
        | SELECT doc_id + 100000 AS doc_id, md5(text) AS fp
        | FROM documents WHERE doc_id % 2 = 0
        | UNION ALL
        | SELECT doc_id + 200000 AS doc_id,
        |  md5(text || ' fresh ' || CAST(doc_id + 200000 AS VARCHAR)) AS fp
        | FROM documents WHERE doc_id % 2 = 1),
        |deduped AS (SELECT min(doc_id) AS doc_id, fp FROM batch GROUP BY fp)
        |SELECT doc_id, fp FROM deduped
        |WHERE fp NOT IN (SELECT fp FROM corpus)
        |ORDER BY doc_id""".stripMargin),
    // feasible scale K = min_s(n_s/p_s); keep floor(K·p_s) per stratum by
    // the md5 coordinate — identical ÷/min/×/floor double arithmetic
    Gate("q65_mixture_sample", mixtureSampleQ _,
      """WITH counts AS (
        | SELECT lang, count(*)::DOUBLE AS n FROM documents
        | WHERE lang IN ('en', 'es', 'de') GROUP BY lang),
        |kk AS (
        | SELECT CASE WHEN (SELECT count(*) FROM counts) < 3 THEN 0.0::DOUBLE
        |  ELSE (SELECT min(n / CASE lang WHEN 'en' THEN 0.5::DOUBLE
        |                                 WHEN 'es' THEN 0.25::DOUBLE
        |                                 ELSE 0.25::DOUBLE END) FROM counts)
        | END AS k),
        |ranked AS (
        | SELECT doc_id, lang,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8), doc_id) AS rk
        | FROM documents WHERE lang IN ('en', 'es', 'de'))
        |SELECT doc_id, lang FROM ranked, kk
        |WHERE rk <= CAST(floor(kk.k * CASE lang WHEN 'en' THEN 0.5::DOUBLE
        |                                        WHEN 'es' THEN 0.25::DOUBLE
        |                                        ELSE 0.25::DOUBLE END) AS BIGINT)
        |ORDER BY doc_id""".stripMargin),
    // the operator's distributed prefix sum provably equals this window
    Gate("q64_shard_pack", shardPackQ _,
      """WITH c AS (
        | SELECT doc_id,
        |  CAST(sum(n_chars) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars
        |   AS BIGINT) AS cum_weight
        | FROM documents)
        |SELECT doc_id, cum_weight,
        | CAST(cum_weight // 50000 AS BIGINT) AS shard_id
        |FROM c ORDER BY doc_id""".stripMargin),
    Gate("q48_stratified_sample", stratifiedSampleQ _,
      """SELECT doc_id, lang,
        | substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS bucket
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) <
        | CASE WHEN lang = 'en' THEN '80000000'
        |      WHEN lang = 'es' THEN '40000000'
        |      ELSE '19999999' END
        |ORDER BY doc_id""".stripMargin),
    Gate("q49_text_clean", textCleanQ _,
      """SELECT doc_id,
        | trim(regexp_replace(regexp_replace(
        |   '<p class="x">' || text || '</p>' || chr(10) || '<br/>',
        |   '<[^>]*>', ' ', 'g'), '\s+', ' ', 'g')) AS cleaned
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q34_frame_sample", frameSampleQ _,
      """WITH f AS (
        | SELECT doc_id, text,
        |  greatest((length(text) - 16) / 4.0, 1.0) AS step
        | FROM documents)
        |SELECT doc_id, i AS frame_idx,
        | CAST(length(substring(text, CAST(floor(i * step + 1) AS INT), 16)) AS BIGINT) AS frame_bytes,
        | substring(text, CAST(floor(i * step + 1) AS INT), 16) AS frame_text
        |FROM f, range(0, 5) r(i)
        |ORDER BY doc_id, frame_idx""".stripMargin),
    Gate("q30_embedding_neardup", embeddingNearDupQ _,
      s"""WITH c AS (
         | SELECT vec_id, embedding, label FROM embeddings
         | UNION ALL SELECT vec_id + 100000, embedding, label FROM embeddings)
         |SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b, $cosExpr AS cosine_sim
         |FROM c a JOIN c b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE $cosExpr >= 0.99
         |ORDER BY vec_id_a, vec_id_b""".stripMargin),
    Gate("q31_cosine_topk", cosineTopKQ _,
      s"""WITH b AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
         |SELECT a.vec_id, $cosExpr AS cosine_sim
         |FROM embeddings a, b
         |ORDER BY cosine_sim DESC, a.vec_id LIMIT 10""".stripMargin),
    Gate("q32_ann_topk", annTopKQ _, annOracle),
    Gate("q33_multimodal", multimodalQ _,
      """SELECT doc_id,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | substring(hex(encode(text)), 1, 8) AS format,
        | ascii(substring(text, 1, 1)) % 64 * 16 + 16 AS width,
        | ascii(substring(text, 1, 1)) % 48 * 16 + 16 AS height
        |FROM documents ORDER BY doc_id""".stripMargin),
  )
}
