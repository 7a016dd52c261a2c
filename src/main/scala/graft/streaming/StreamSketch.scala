package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Sketches

/** Streaming count-min maintenance — the heavy-hitter serving layer the
  * batch sketches (q93's cells, q101's top-k) get once ingestion never
  * stops: the 4×w cell grid maintained as STREAMING STATE, folded
  * forward on every micro-batch, so "what does this term's frequency
  * look like right now" is a broadcast-join against at most d·w
  * standing rows instead of a rescan of everything ever ingested.
  *
  * State is ONE count per (depth, bucket) cell (Spark's streaming
  * `groupBy` count in update mode) — bounded by the SKETCH size (≤ d·w
  * entries, ~4096 at the defaults), not by the stream's cardinality;
  * that bound is the entire point of sketched serving. A cell count is a pure set function of every item
  * ingested, so the standing grid is IDENTICAL, register for register,
  * to a one-shot [[Sketches.countMinCells]] over the same rows — the
  * invariant the q225 gate states (and point estimates served off the
  * maintained grid are therefore the batch estimates verbatim). Each
  * item expands to its d cells BEFORE the shuffle, so the per-batch
  * state update is one map-side-combinable count per touched cell.
  * Emission is one row per UPDATED cell per batch, written
  * batch_id-keyed with the [[StreamState]] overwrite discipline —
  * a replayed batch recomputes identical rows, so restarts never
  * double-count.
  */
object StreamSketch {

  /** Drain `sourcePath` with AvailableNow semantics, folding each
    * batch's items into the standing count-min cells. `itemCol` is
    * hashed exactly as [[Sketches.countMinCells]] does (same depth
    * salt, same md5-derived [[Sketches.hash60]]), so the maintained
    * grid and the batch grid agree cell for cell. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, itemCol: String,
                      sinkPath: String, checkpointPath: String): Long = {
    val updates = StreamWaves.reader(spark, schema, sourcePath)
      .select(col(itemCol).cast("string").as("_it"))
      .select(explode(sequence(lit(0), lit(Sketches.CountMinDepth - 1)))
        .as("depth"), col("_it"))
      .withColumn("bucket",
        pmod(Sketches.hash60(concat_ws(":", col("depth"), col("_it"))),
          lit(Sketches.CountMinWidth.toLong)))
      .groupBy(col("depth").cast("int").as("depth"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    StreamState.drain(updates, checkpointPath)(_.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, sinkPath, batchId) })
  }

  /** The monitor's standing grid: each cell's row from its LATEST batch
    * (counts are cumulative, so the newest row is the state). Shape
    * matches [[Sketches.countMinCells]] — feed it straight to
    * [[Sketches.countMinEstimate]] to serve point estimates. */
  def currentCells(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Seq("depth", "bucket"))
}
