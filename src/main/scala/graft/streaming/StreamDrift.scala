package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming drift monitor: the per-category counts of a continuously-
  * ingesting snapshot maintained as STREAMING STATE, so the chi-squared
  * gate ([[graft.functions.Drift]]) can run after every micro-batch
  * without rescanning the accumulated corpus — the ingest-side guard
  * that holds a crawl wave at the door the moment its category mix
  * leaves tolerance, rather than discovering the skew in the next full
  * audit.
  *
  * State is ONE count per category (Spark's streaming `groupBy` count
  * in update mode) — category-cardinality-bounded, the smallest
  * possible footprint; a count is a pure set function of everything
  * ingested, so the monitor's current counts are IDENTICAL to a batch `groupBy.count`
  * over the same rows, which is how the gate states its invariant
  * (q210's audit must hash-equal the batch q207 audit). Emission is one
  * row per UPDATED category per batch, written batch_id-keyed with the
  * [[StreamState]] overwrite discipline — a replayed batch
  * recomputes identical rows, so restarts never double-count.
  */
object StreamDrift {

  /** Drain `sourcePath` with AvailableNow semantics, folding each batch
    * into per-category cumulative counts. Null categories count like any
    * other (a null grouping key is a group). Each batch appends its
    * updated categories' rows to `sinkPath/batch_id=N` (overwrite —
    * replay-safe). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, catCol: String,
                      sinkPath: String, checkpointPath: String): Long = {
    val updates = StreamWaves.reader(spark, schema, sourcePath)
      .groupBy(col(catCol).cast("string").as("category"))
      .agg(count(lit(1)).as("cur_n"))
    StreamState.drain(updates, checkpointPath)(_.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, sinkPath, batchId) })
  }

  /** The monitor's current counts: each category's row from its LATEST
    * batch (counts are cumulative, so the newest row is the state).
    * Null-safe on the category — the null group keeps its count. */
  def currentCounts(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Seq("category"))
}
