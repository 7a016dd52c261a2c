package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.functions.Sketches

/** Streaming quantile-sketch maintenance — the
  * [[graft.operators.AggMaintain.quantileState]] histogram as
  * STREAMING STATE, closing the monitor trio (counts → q210,
  * heavy-hitter cells → q225, quantiles → here): per-group p50/p99
  * serve off ≤ `capacity` standing entries after every micro-batch,
  * no rescan.
  *
  * Why the state stays exact AND bounded: the sketch keeps the
  * `capacity` smallest-HASH distinct values with exact weights. Hash
  * order is global and fixed, so a value's rank only GROWS as new
  * distinct values arrive — once evicted it can never re-enter, and
  * every row of a value arrives while the value is live (its weight
  * accumulates from its first appearance; eviction discards it for
  * good, exactly as the one-shot sketch would have). State per group
  * is a value→weight map capped at `capacity`; the standing entries
  * are ENTRY-IDENTICAL to a one-shot batch recompute — the q260 gate
  * invariant. Emission is the full (small) sketch per touched group
  * per batch, batch_id-keyed with the [[StreamState]] overwrite
  * discipline. */
object StreamQuantile {

  /** Drain `sourcePath` with AvailableNow semantics, folding each
    * batch's `(group, value)` rows into the standing sketches. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, groupCol: String,
                      valueCol: String, capacity: Int, sinkPath: String,
                      checkpointPath: String): Long = {
    import spark.implicits._
    require(capacity >= 1, "capacity must be positive")
    val stream = StreamWaves.reader(spark, schema, sourcePath)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .as[(String, Long)]
    val updates = stream.groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, (Long, Long)],
        (String, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[(String, Long)],
         state: GroupState[Map[Long, (Long, Long)]]) =>
          // state: value -> (hash60, weight), ≤ capacity entries
          var m = state.getOption.getOrElse(Map.empty[Long, (Long, Long)])
          val batch = scala.collection.mutable.Map.empty[Long, Long]
          rows.foreach { case (_, v) =>
            batch(v) = batch.getOrElse(v, 0L) + 1L
          }
          if (batch.isEmpty) Iterator.empty
          else {
            batch.foreach { case (v, c) =>
              m.get(v) match {
                case Some((h, w)) => m += v -> ((h, w + c))
                case None =>
                  m += v -> ((graft.expressions.Hash60Expr.hash60(
                    v.toString.getBytes("UTF-8")), c))
              }
            }
            if (m.size > capacity)
              m = m.toSeq.sortBy { case (v, (h, _)) => (h, v) }
                .take(capacity).toMap
            state.update(m)
            m.iterator.map { case (v, (_, w)) => (g, v, w) }
          }
      }
      .toDF("g", "value", "count")
    StreamState.drain(updates, checkpointPath)(_.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, sinkPath, batchId) })
  }

  /** The standing entries: each group's NEWEST batch emission (the
    * full sketch rides every emission, so the latest batch per group
    * is the state). */
  def currentEntries(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Seq("g"))
}
