package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Dedup

/** Streaming PERCEPTUAL media dedup against a standing hash index — the
  * multimodal sibling of [[StreamNearDup]]. Each micro-batch of binary
  * payloads decodes through the caller's hash frame and probes a
  * persisted index of every accepted item's 64-bit perceptual hash via the
  * bipartite chunk-pigeonhole join ([[Dedup.simhashCrossPairs]], 8 chunks
  * × 8 bits — exact for hamming ≤ 7, never all-pairs); batch items within
  * [[MaxDist]] of an indexed item drop, survivors append to the accepted
  * sink and the index. The standing corpus is one long per item, so a
  * near copy of an accepted item is caught WITHOUT ever re-reading the
  * original's bytes. Two hash frames run it:
  *   - images: [[graft.multimodal.ImagePixels.dhashFrame]] (`dhash`, real
  *     `javax.imageio` pixels) — a re-encoded, cell-aligned-resized or
  *     brightness-shifted copy drops;
  *   - audio: [[graft.multimodal.AudioSamples.audioHashFrameAny]]
  *     (`ahash`; every supported WAV variant AND FLAC decode to one
  *     canonical sample domain before hashing) — a FLAC re-encode of an
  *     accepted WAV probes at hamming 0 and drops.
  *
  * Undecodable payloads (truncated, corrupt, not the media type) are
  * ACCEPTED but never indexed — the keep path: a broken file is
  * telemetry for a downstream quality gate, not a crash, and with no
  * hash it can neither match nor be matched.
  *
  * State layout under `statePath` (batch_id-keyed, the
  * [[StreamState]] overwrite discipline — replay-safe):
  * `accepted/batch_id=N/` (accepted input rows) and
  * `hashes/batch_id=N/` (id and hash of accepted DECODABLE rows).
  * Within-batch pairs are deliberately not compared (the probe
  * question is "is this item already in the corpus"). */
object StreamMediaDedup {

  /** Hamming radius within which a batch hash drops against the index. */
  private val MaxDist = 4

  /** Runs the AvailableNow drain; returns the number of micro-batches
    * processed (callers with one-wave-per-batch oracles assert on it).
    * `hashFrame(batch, idCol, payloadCol)` yields `idCol` and the nullable
    * long `hashCol`. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, payloadCol: String,
                      statePath: String, checkpointPath: String,
                      hashFrame: (DataFrame, String, String) => DataFrame,
                      hashCol: String): Long = {
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val hashes = hashFrame(batch, idCol, payloadCol)
          .select(col(idCol), col(hashCol))
          .localCheckpoint() // decode once: probe + state write read it
        val standing = StreamState.readExcluding(session,
          s"$statePath/hashes", batchId,
          StructType(Seq(batch.schema(idCol),
            StructField(hashCol, LongType))))
        val dropped = Dedup.simhashCrossPairs(
            hashes.filter(col(hashCol).isNotNull), standing,
            idCol, hashCol, MaxDist)
          .select(col(s"${idCol}_new").as(idCol)).distinct()
        val accepted = batch.join(dropped, Seq(idCol), "left_anti")
          .select(batch.columns.map(col): _*)
          .cache()
        try {
          StreamState.writeBatch(accepted, s"$statePath/accepted", batchId)
          StreamState.writeBatch(hashes.filter(col(hashCol).isNotNull)
            .join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
            s"$statePath/hashes", batchId)
        } finally accepted.unpersist()
    })
  }
}
