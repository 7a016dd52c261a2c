package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming EXACT distinct-count maintenance —
  * [[graft.functions.Bitmap]]'s bucket words as STREAMING STATE: the
  * per-group distinct-user count stays exact while ingestion runs,
  * because the OR-monoid is idempotent (a replayed or duplicated event
  * sets a bit that is already set). The exact sibling of the HLL-based
  * monitors for machine-bounded id domains; state is one `bit_or` word
  * per touched (group, bucket), Spark's streaming `groupBy` in update
  * mode — domain/63 words per group at worst, and
  * only TOUCHED buckets ever materialize.
  *
  * Emission is one row per UPDATED (group, bucket) per batch,
  * batch_id-keyed with the [[StreamState]] overwrite discipline;
  * a word is a pure set function of everything ingested, so the
  * standing words are IDENTICAL to a one-shot batch
  * [[graft.functions.Bitmap.bitmaps]] — the q258 gate invariant. */
object StreamBitmap {

  /** Drain `sourcePath` with AvailableNow semantics, OR-folding each
    * batch's values into per-(group, bucket) words. Values must be
    * non-negative longs (the [[graft.functions.Bitmap]] contract). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, groupCol: String,
                      valueCol: String, sinkPath: String,
                      checkpointPath: String): Long = {
    val updates = StreamWaves.reader(spark, schema, sourcePath)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      // mirror the batch Bitmap.bitmaps contract: a negative id would
      // silently produce a negative bucket and a negative shift count,
      // diverging the maintained state from the batch invariant
      .select(col("g"),
        when(col("v") >= 0, col("v")).otherwise(raise_error(lit(
          s"StreamBitmap: negative $valueCol has no bit — offset the " +
            "domain first"))).as("v"))
      .select(col("g"), expr("v div 63").as("bucket"),
        expr("shiftleft(cast(1 as bigint), cast(v % 63 as int))").as("b"))
      .groupBy(col("g"), col("bucket"))
      .agg(bit_or(col("b")).as("bits"))
    StreamState.drain(updates, checkpointPath)(_.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, sinkPath, batchId) })
  }

  /** The standing words: each (group, bucket)'s newest batch row —
    * shaped like [[graft.functions.Bitmap.bitmaps]] output. */
  def currentBitmap(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Seq("g", "bucket"))
}
