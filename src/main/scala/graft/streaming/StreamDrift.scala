package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming drift monitor: the per-category counts of a continuously-
  * ingesting snapshot maintained as STREAMING STATE, so the chi-squared
  * gate ([[graft.functions.Drift]]) can run after every micro-batch
  * without rescanning the accumulated corpus — the ingest-side guard
  * that holds a crawl wave at the door the moment its category mix
  * leaves tolerance, rather than discovering the skew in the next full
  * audit.
  *
  * State is ONE long per category (`flatMapGroupsWithState`) —
  * category-cardinality-bounded, the smallest possible footprint; a
  * count is a pure set function of everything ingested, so the
  * monitor's current counts are IDENTICAL to a batch `groupBy.count`
  * over the same rows, which is how the gate states its invariant
  * (q210's audit must hash-equal the batch q207 audit). Emission is one
  * row per UPDATED category per batch, written batch_id-keyed with the
  * [[StreamState]] overwrite discipline — a replayed batch
  * recomputes identical rows, so restarts never double-count.
  */
object StreamDrift {

  /** Drain `sourcePath` with AvailableNow semantics, folding each batch
    * into per-category cumulative counts. Null categories count like any
    * other (Option-keyed state). Each batch appends its updated
    * categories' rows to `sinkPath/batch_id=N` (overwrite — replay-safe). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, catCol: String,
                      sinkPath: String, checkpointPath: String): Long = {
    import spark.implicits._
    val stream = StreamWaves.reader(spark, schema, sourcePath)
      .select(col(catCol).cast("string").as("c")).as[String]
    val updates = stream.groupByKey(Option(_))
      .flatMapGroupsWithState[Long, (Option[String], Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (cat: Option[String], rows: Iterator[String], state: GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          Iterator.single((cat, n))
      }
      .toDF("category", "cur_n")
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
