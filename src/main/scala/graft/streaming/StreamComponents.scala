package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** STREAMING connected-components maintenance — the dedup-cluster
  * family's missing maintenance member: near-dup pair waves drain
  * through a file stream, and each micro-batch folds its edges into
  * the STANDING cluster assignment via
  * [[graft.operators.Components.maintainClusters]] (star-forest replay
  * + delta edges, re-converged with large-star/small-star). The
  * standing assignment after any prefix of waves row-matches a
  * one-shot `connectedComponents` over the union of those waves — the
  * q261 gate invariant — and is wave-order invariant because set
  * union commutes.
  *
  * Components are a GLOBAL iterative computation, so the state lives
  * in the sink (the [[StreamState]] batch_id discipline), not in
  * a keyed state store: `foreachBatch` reads the standing assignment
  * EXCLUDING its own batch directory (replay-safe), folds, and
  * overwrites `batch_id=N` with the DELTA — ids that are new or whose
  * cluster label changed. Re-delivered edges are free (the star
  * forest already encodes them); cluster-merging edges relabel exactly
  * the members of the losing clusters, so per-wave write volume is
  * bounded by the churn, not the standing table. Serving reads
  * latest-row-per-id ([[currentAssignment]]); `StreamState.compact`
  * keyed on `id` keeps the per-batch directory count flat.
  */
object StreamComponents {

  private val assignmentSchema = StructType(Seq(
    StructField("id", LongType), StructField("cluster_id", LongType)))

  /** Drain `sourcePath` with AvailableNow semantics, folding each
    * batch's pairs into the standing assignment. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, aCol: String, bCol: String,
                      sinkPath: String, checkpointPath: String): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        // a replayed batch must fold against the assignment as it
        // stood BEFORE its first attempt, or the delta would be empty
        // and the overwrite would lose the wave's relabels
        val standing = StreamState.latest(StreamState.read(
          batch.sparkSession, sinkPath, batchId, assignmentSchema), Seq("id"))
        val next = graft.operators.Components
          .maintainClusters(standing, batch, aCol, bCol)
        val prev = standing.select(col("id").as("_pid"),
          col("cluster_id").as("_pcid"))
        StreamState.writeBatch(
          next.join(prev, col("id") === col("_pid"), "left")
            .filter(col("_pid").isNull || col("cluster_id") =!= col("_pcid"))
            .select(col("id"), col("cluster_id")),
          sinkPath, batchId)
    })

  /** The standing assignment: each id's newest delta row (one row per id
    * per batch; the compacted `batch_id=-1` snapshot sorts below every
    * live batch). */
  def currentAssignment(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Seq("id"))
}
