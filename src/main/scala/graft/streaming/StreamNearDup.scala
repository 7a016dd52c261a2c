package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, LongType, StructField,
  StructType}

import graft.functions.Dedup

/** Incremental streaming near-dup filter — the LSH shape a crawl pipeline
  * runs continuously: each micro-batch is minhash-banded and probed
  * against a PERSISTED STANDING BAND INDEX of everything accepted so far;
  * batch docs near-duplicating an indexed doc are dropped, survivors are
  * appended to both the accepted sink and the index. The standing corpus
  * is never re-shingled and never re-shuffled — wave N's work is
  * O(batch) + one bucket join against stored band rows (the
  * [[graft.functions.Dedup.crossCorpusNearDups]] bipartite probe, with
  * the index side precomputed once per doc instead of per wave).
  *
  * State layout under `statePath` (all batch_id-keyed for exactly-once,
  * the [[StreamState]] overwrite discipline):
  *   - `accepted/batch_id=N/` — accepted input rows (the sink);
  *   - `bands/batch_id=N/`    — (id, band_idx, band_sig, size_band) of
  *     accepted docs; `size_band` is the geometric shingle-count band
  *     ([[graft.functions.Dedup.sizeBandBounds]]) baked into the PROBE
  *     KEY: a qualifying pair's bands differ by ≤ 1, so the batch side
  *     probes band ± 1 and every pair the size-ratio prefilter would
  *     kill never leaves the bucket join — on saturated shingle spaces
  *     random band collisions between very-different-length docs grow
  *     superlinearly (measured 47.8× candidates on 10× docs at sf1
  *     before banding), and this is the exact no-false-negative cut;
  *   - `shingles/batch_id=N/` — (id, hs, n_hs) hashed shingle sets of
  *     accepted docs, the verification material for exact-Jaccard
  *     confirmation of band collisions (signatures alone would make the
  *     drop decision probabilistic). `n_hs` is stored as its OWN column
  *     so the size-ratio prefilter reads a narrow (id, n_hs) projection —
  *     parquet column pruning keeps the array pages untouched for every
  *     candidate the ratio kills, and only surviving pairs pull the
  *     stored sets for the Jaccard check.
  *
  * Dedup is AGAINST THE INDEX ONLY — within-batch pairs are deliberately
  * not compared (the probe question is "is this new doc already in the
  * corpus?", the crossCorpus semantics; run a batch
  * [[graft.functions.Dedup.minhashNearDups]] over a wave first if
  * intra-wave dedup is also wanted).
  *
  * Replay safety: a replayed batch reads the index EXCLUDING its own
  * batch_id directories and overwrites them — crash anywhere between the
  * three writes recomputes the identical accepted set.
  */
object StreamNearDup {

  /** Char 7-shingles, 32 minhashes in 8 bands of 4, Jaccard ≥ 0.95, and
    * the LSH bucket cap that drops degenerate bands. */
  private val ShingleSize = 7
  private val NumHashes = 32
  private val Bands = 8
  private val Threshold = 0.95
  private val MaxBucket = 1 << 16

  /** Runs the AvailableNow drain and returns the number of micro-batches
    * it processed — callers whose downstream semantics assume "one wave =
    * one batch" (cross-batch-only dedup) can assert on it instead of
    * silently diverging if the file source ever splits a wave. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, textCol: String,
                      statePath: String, checkpointPath: String): Long = {
    val rowsPerBand = NumHashes / Bands
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        // one persisted frame carries shingles + signature (the
        // minhashNearDups cache discipline — wide rows, columnar persist)
        val bounds = Dedup.sizeBandBounds(Threshold)
        val signed = batch.select(col(idCol),
            Dedup.hashedCharShingles(lower(col(textCol)), ShingleSize).as("hs"))
          .withColumn("sig",
            Dedup.minhashSignatureFromHashes(col("hs"), NumHashes))
          .withColumn("size_band", Dedup.sizeBand(size(col("hs")), bounds))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val batchBands = Dedup.lshBands(
            signed.select(col(idCol), col("size_band"), col("sig")), idCol,
            "sig", Bands, rowsPerBand, carry = Seq("size_band"))
          val standingBands = StreamState.readExcluding(session,
            s"$statePath/bands", batchId, StructType(Seq(batch.schema(idCol),
              StructField("band_idx", IntegerType),
              StructField("band_sig", ArrayType(LongType)),
              StructField("size_band", IntegerType))))
          val standingHs = StreamState.readExcluding(session,
            s"$statePath/shingles", batchId, StructType(Seq(
              batch.schema(idCol), StructField("hs", ArrayType(LongType)),
              StructField("n_hs", IntegerType))))
          // bipartite band probe, both sides agg-capped (never a window);
          // the batch side probes its size band ± 1 (exact — a J ≥ t
          // pair's bands differ by ≤ 1), so far-size collisions never
          // leave the join
          val cands = Dedup.capBuckets(batchBands, idCol, MaxBucket,
              carry = Seq("size_band"))
            .toDF(s"${idCol}_new", "band_idx", "band_sig", "size_band")
            .withColumn("size_band", explode(array(
              col("size_band") - 1, col("size_band"), col("size_band") + 1)))
            .join(Dedup.capBuckets(standingBands, idCol, MaxBucket,
                carry = Seq("size_band"))
              .toDF(s"${idCol}_old", "band_idx", "band_sig", "size_band"),
              Seq("band_idx", "band_sig", "size_band"))
            .select(col(s"${idCol}_new"), col(s"${idCol}_old")).distinct()
          // size-ratio prefilter on NARROW columns first: the batch side's
          // sizes come off the persisted signed frame, the standing side's
          // off the stored n_hs column (array pages never read) — only
          // pairs surviving the ratio pull actual shingle sets
          val sizedCands = cands
            .join(signed.select(col(idCol).as(s"${idCol}_new"),
              size(col("hs")).as("n_new")), s"${idCol}_new")
            .join(standingHs.select(col(idCol).as(s"${idCol}_old"),
              col("n_hs").as("n_old")), s"${idCol}_old")
            .filter(
              col("n_new").cast("double") >= lit(Threshold) * col("n_old") &&
              col("n_old").cast("double") >= lit(Threshold) * col("n_new"))
            .select(col(s"${idCol}_new"), col(s"${idCol}_old"))
          // exact-Jaccard confirmation against the STORED shingle sets —
          // the standing corpus text is never touched
          val dropped = sizedCands
            .join(signed.select(col(idCol).as(s"${idCol}_new"),
              col("hs").as("hs_new")), s"${idCol}_new")
            .join(standingHs.select(col(idCol).as(s"${idCol}_old"),
              col("hs").as("hs_old")), s"${idCol}_old")
            .filter(Dedup.jaccardSorted(col("hs_new"), col("hs_old")) >= Threshold)
            .select(col(s"${idCol}_new").as(idCol)).distinct()
          val accepted = batch.join(dropped, Seq(idCol), "left_anti")
            .select(batch.columns.map(col): _*)
            .cache()
          try {
            // the accepted write materializes the cache; the two index
            // writes then only re-read it and are independent of each
            // other — overlap them (guide §2.6)
            StreamState.writeBatch(accepted, s"$statePath/accepted", batchId)
            graft.operators.Concurrent.inParallel(
              StreamState.writeBatch(batchBands
                .join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
                s"$statePath/bands", batchId),
              StreamState.writeBatch(
                signed.select(col(idCol), col("hs"), size(col("hs")).as("n_hs"))
                  .join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
                s"$statePath/shingles", batchId))
          } finally accepted.unpersist()
        } finally signed.unpersist()
        ()
    })
  }
}
