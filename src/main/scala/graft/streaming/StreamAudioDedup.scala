package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Dedup
import graft.multimodal.AudioSamples

/** Streaming PERCEPTUAL AUDIO dedup against a standing
  * energy-envelope-hash index — [[StreamImageDedup]]'s audio sibling,
  * closing the cross-CODEC loop in the STREAMING path: the hasher is
  * [[AudioSamples.audioHashFrameAny]] (any supported WAV variant AND
  * FLAC decode to ONE canonical sample domain before hashing), so a
  * FLAC re-encode of an already-accepted WAV probes the standing index
  * at hamming 0 and drops WITHOUT the original's bytes ever being
  * re-read — the q299 batch invariant, live. Candidate pairing is the
  * same bipartite 8×8-bit chunk-pigeonhole join (exact for hamming ≤ 7,
  * never all-pairs); undecodable payloads are accepted but never
  * indexed (the telemetry keep path); state is batch_id-keyed with the
  * [[StreamState]] overwrite discipline (replay-safe, and
  * [[compact]]-able to a bounded base). */
object StreamAudioDedup {

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
        val hashes = AudioSamples
          .audioHashFrameAny(batch, idCol, payloadCol)
          .select(col(idCol), col("ahash"))
          .localCheckpoint() // decode once: probe + state write read it
        val standing = StreamState.readExcluding(session,
          s"$statePath/hashes", batchId,
          StructType(Seq(batch.schema(idCol),
            StructField("ahash", LongType))))
        val dropped = Dedup.simhashCrossPairs(
            hashes.filter(col("ahash").isNotNull), standing,
            idCol, "ahash", MaxDist)
          .select(col(s"${idCol}_new").as(idCol)).distinct()
        val accepted = batch.join(dropped, Seq(idCol), "left_anti")
          .select(batch.columns.map(col): _*)
          .cache()
        try {
          StreamState.writeBatch(accepted, s"$statePath/accepted", batchId)
          StreamState.writeBatch(hashes.filter(col("ahash").isNotNull)
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
