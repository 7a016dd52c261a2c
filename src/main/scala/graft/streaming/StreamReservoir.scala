package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** STREAMING weighted reservoir maintenance — the sampling family's
  * maintenance member: a corpus stream drains through `foreachBatch`,
  * and each micro-batch folds into the STANDING k-row reservoir via
  * [[graft.functions.Sampling.weightedReservoirMaintain]] (bottom-k by
  * the exact integer rank `hash60(key) div weight`). The KMV eviction
  * argument makes bounded streaming state exact: an item's rank is a
  * pure function of its row, the k-th smallest rank only decreases, so
  * once evicted never re-admitted — the standing reservoir after any
  * prefix of waves row-matches a one-shot
  * [[graft.functions.Sampling.weightedReservoir]] over those waves
  * (the q264 gate invariant), and re-delivered rows are idempotent.
  *
  * Like [[StreamComponents]], the fold needs the whole standing set,
  * so state lives in the sink under the [[StreamState]] batch_id
  * discipline, not in a keyed state store: each batch writes the full
  * k-row reservoir as a snapshot ([[StreamState.writeSnapshot]]), so
  * the sink holds at most the two newest batches — k rows each, however
  * long the stream runs. `foreachBatch` reads the standing reservoir
  * EXCLUDING its own batch directory (replay-safe). Serve with
  * [[currentReservoir]]. */
object StreamReservoir {

  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, keyCol: String,
                      weightCol: String, k: Int, sinkPath: String,
                      checkpointPath: String): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val standing = StreamState.latest(StreamState.read(
          batch.sparkSession, sinkPath, batchId,
          batch.schema.add(StructField("sample_rank", IntegerType))), Nil)
        StreamState.writeSnapshot(
          graft.functions.Sampling.weightedReservoirMaintain(
            standing, batch, keyCol, weightCol, k),
          sinkPath, batchId)
    })

  /** The standing reservoir: the newest batch's k rows. */
  def currentReservoir(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Nil)
}
