package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Drift

/** Streaming TOTAL-VARIATION-DISTANCE monitor —
  * [[graft.functions.Drift.tvdDrift]] maintained while the current-side
  * snapshot lands, the exact-rational sibling of the χ² monitor (q210):
  * "has this cohort's event mix moved ≥ t from the reference"
  * answerable mid-ingest off (group × bucket)-sized state.
  *
  * Shape ([[StreamChurn]]'s): each micro-batch appends its
  * [[graft.functions.Drift.tvdCounts]] increments batch_id-keyed
  * (overwrite — replay-safe under the checkpointed file source's
  * exactly-once batch contract); counts are additive, so the standing
  * current-side counts are a pure SUM over batch directories — no keyed
  * state store. Serving folds the summed counts against the STATIC
  * reference counts through [[graft.functions.Drift.tvdDriftFromCounts]],
  * so the standing report row-matches the one-shot batch `tvdDrift` over
  * everything drained — the q279 gate invariant. */
object StreamTvd {

  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, groupCol: String,
                      bucketCol: String, sinkPath: String,
                      checkpointPath: String): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(Drift.tvdCounts(batch, groupCol, bucketCol),
          sinkPath, batchId)
    })

  /** The standing drift report: summed current-side counts vs the
    * static reference — [[graft.functions.Drift.tvdDrift]]'s output
    * shape and values over everything drained so far. */
  def currentDrift(spark: SparkSession, sinkPath: String,
                   ref: DataFrame, groupCol: String, bucketCol: String,
                   tNum: Long, tDen: Long): DataFrame = {
    val cur = spark.read.parquet(sinkPath)
      .groupBy(col("_g"), col("_b")).agg(sum(col("c")).as("c"))
    Drift.tvdDriftFromCounts(Drift.tvdCounts(ref, groupCol, bucketCol),
      cur, groupCol, bucketCol, tNum, tDen)
  }
}
