package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Dedup
import graft.multimodal.ImagePixels

/** Streaming PERCEPTUAL IMAGE dedup against a standing dHash index —
  * the multimodal sibling of [[StreamNearDup]]: each micro-batch of
  * binary image payloads decodes ([[ImagePixels.dhashFrame]], real
  * `javax.imageio` pixels) and probes a persisted index of every
  * accepted image's 64-bit dHash via the bipartite chunk-pigeonhole
  * join ([[Dedup.simhashCrossPairs]], 8 chunks × 8 bits — exact for
  * hamming ≤ 7, never all-pairs); batch images within [[MaxDist]] of an
  * indexed image drop, survivors append to the accepted sink and the
  * index. A re-encoded, cell-aligned-resized, or brightness-shifted
  * copy of an already-accepted image is caught WITHOUT ever re-reading
  * the original's bytes — the standing corpus is one long per image.
  *
  * Undecodable payloads (truncated, corrupt, not an image) are
  * ACCEPTED but never indexed — the keep path: a broken file is
  * telemetry for a downstream quality gate, not a crash, and with no
  * hash it can neither match nor be matched.
  *
  * State layout under `statePath` (batch_id-keyed, the
  * [[StreamState]] overwrite discipline — replay-safe):
  * `accepted/batch_id=N/` (accepted input rows) and
  * `hashes/batch_id=N/` (media_id, dhash of accepted DECODABLE rows).
  * Within-batch pairs are deliberately not compared (the probe
  * question is "is this image already in the corpus"). */
object StreamImageDedup {

  /** Hamming radius within which a batch hash drops against the index. */
  private val MaxDist = 4

  /** Runs the AvailableNow drain; returns the number of micro-batches
    * processed (callers with one-wave-per-batch oracles assert on it). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, payloadCol: String,
                      statePath: String, checkpointPath: String): Long = {
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val hashes = ImagePixels.dhashFrame(batch, idCol, payloadCol)
          .select(col(idCol), col("dhash"))
          .localCheckpoint() // decode once: probe + state write read it
        val standing = StreamState.readExcluding(session,
          s"$statePath/hashes", batchId,
          StructType(Seq(batch.schema(idCol),
            StructField("dhash", LongType))))
        val dropped = Dedup.simhashCrossPairs(
            hashes.filter(col("dhash").isNotNull), standing,
            idCol, "dhash", MaxDist)
          .select(col(s"${idCol}_new").as(idCol)).distinct()
        val accepted = batch.join(dropped, Seq(idCol), "left_anti")
          .select(batch.columns.map(col): _*)
          .cache()
        try {
          StreamState.writeBatch(accepted, s"$statePath/accepted", batchId)
          StreamState.writeBatch(hashes.filter(col("dhash").isNotNull)
            .join(accepted.select(col(idCol)), Seq(idCol), "left_semi"),
            s"$statePath/hashes", batchId)
        } finally accepted.unpersist()
    })
  }

  /** Fold old per-batch state dirs into a bounded base — the
    * [[StreamNearDup.compact]] discipline, both tables together. */
  def compact(spark: SparkSession, statePath: String): Unit =
    Seq("accepted", "hashes").foreach(d =>
      StreamState.compact(spark, s"$statePath/$d"))
}
