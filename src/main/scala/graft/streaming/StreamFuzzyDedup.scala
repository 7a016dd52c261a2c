package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}

import graft.functions.FuzzyDedup

/** Incremental streaming FUZZY (edit-distance) dedup — the record-linkage
  * counterpart of [[StreamNearDup]]: each micro-batch's short keys
  * (names, titles, ids) are expanded to their SymSpell deletion-variant
  * hashes and probed against a PERSISTED STANDING VARIANT INDEX of
  * everything accepted so far; batch rows within Levenshtein `maxDist`
  * of an indexed row are dropped, survivors append to the accepted sink
  * and the index. The standing corpus's variants are computed ONCE when
  * a row is accepted, never per wave — wave N pays O(batch × len) variant
  * rows plus one equi-join against stored narrow (id, hash) state.
  *
  * State layout under `statePath` (batch_id-keyed for exactly-once, the
  * [[StreamState]] overwrite discipline):
  *   - `accepted/batch_id=N/` — accepted input rows (the sink);
  *   - `variants/batch_id=N/` — (id, h) deletion-variant hashes;
  *   - `names/batch_id=N/`    — (id, t) key strings, the verification
  *     material (variant collisions alone would make the drop decision
  *     approximate; the exact `levenshtein` read touches only candidate
  *     ids).
  *
  * Dedup is AGAINST THE INDEX ONLY — within-batch fuzzy pairs are
  * deliberately not compared (the [[FuzzyDedup.crossNearDupPairs]]
  * semantics; run batch [[FuzzyDedup.dedup]] over a wave first if
  * intra-wave dedup is also wanted). The hot-variant cap counts the
  * JOINT bucket (stored + batch members), same agg + semi-join shape as
  * the batch operators — never a window.
  *
  * Replay safety: a replayed batch reads the index EXCLUDING its own
  * batch_id directories and overwrites them.
  */
object StreamFuzzyDedup {

  /** Hot-variant cap: a variant hash shared by more standing and batch
    * rows than this is dropped from the probe. */
  private val MaxBucket: Int = 1 << 16

  /** Runs the AvailableNow drain and returns the number of micro-batches
    * it processed — callers whose downstream semantics assume "one wave =
    * one batch" (greedy cross-batch-only dedup) can assert on it instead
    * of silently diverging if the file source ever splits a wave. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, textCol: String,
                      statePath: String, checkpointPath: String,
                      maxDist: Int = 1): Long = {
    require(maxDist == 1 || maxDist == 2,
      "StreamFuzzyDedup: maxDist must be 1 or 2")
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val base = batch
          .select(col(idCol), col(textCol).cast("string").as("_graft_t"))
          .filter(col("_graft_t").isNotNull)
        val bv = base.select(col(idCol),
            explode(FuzzyDedup.variantHashes(col("_graft_t"), maxDist))
              .as("h"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          val standingV = StreamState.readExcluding(session,
            s"$statePath/variants", batchId,
            StructType(Seq(batch.schema(idCol), StructField("h", LongType))))
          val standingN = StreamState.readExcluding(session,
            s"$statePath/names", batchId,
            StructType(Seq(batch.schema(idCol),
              StructField("_graft_t",
                org.apache.spark.sql.types.StringType))))
          // joint hot-variant cap: a value degenerate across the standing
          // corpus must not explode because the batch holds it once more
          val surviving = bv.select(col("h"))
            .unionAll(standingV.select(col("h")))
            .groupBy(col("h")).agg(count(lit(1)).as("_n"))
            .filter(col("_n") <= MaxBucket && col("_n") >= 2)
            .select(col("h"))
          // explicit aliases, never positional toDF: using-column joins
          // front-load the key, so a positional rename after the semi
          // would swap (h, id) crosswise and the probe would silently
          // join ids against hashes
          val cands = bv.join(surviving, Seq("h"), "left_semi")
            .select(col(idCol).as(s"${idCol}_new"), col("h"))
            .join(standingV.join(surviving, Seq("h"), "left_semi")
              .select(col(idCol).as(s"${idCol}_old"), col("h")), Seq("h"))
            .select(col(s"${idCol}_new"), col(s"${idCol}_old")).distinct()
          // exact verification reads only candidate ids' stored strings
          val dropped = cands
            .join(base.select(col(idCol).as(s"${idCol}_new"),
              col("_graft_t").as("_t_new")), s"${idCol}_new")
            .join(standingN.select(col(idCol).as(s"${idCol}_old"),
              col("_graft_t").as("_t_old")), s"${idCol}_old")
            .filter(levenshtein(col("_t_new"), col("_t_old")) <= maxDist)
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
              StreamState.writeBatch(base.select(col(idCol), col("_graft_t"))
                .join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
                s"$statePath/names", batchId),
              StreamState.writeBatch(
                bv.join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
                s"$statePath/variants", batchId))
          } finally accepted.unpersist()
        } finally bv.unpersist()
        ()
    })
  }
}
