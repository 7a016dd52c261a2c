package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming CUSUM monitor: [[graft.operators.SortedFold.cusum]]'s
  * change-point statistic maintained as STREAMING STATE, so the ingest
  * tier raises the rate-shift alarm DURING the wave that causes it
  * instead of in the next batch audit. State per key is two longs
  * (last emitted day, running S); each micro-batch folds its per-day
  * counts in day order and SYNTHESIZES the silent days in between
  * (x = 0 decays the statistic by `drift` per day — exactly the
  * batch composition of [[graft.operators.GapFill.densify]] + cusum,
  * which is what the q221 gate states: the full emitted frame must
  * hash-equal the batch pipeline).
  *
  * Arrival contract (the watermark analog every production feed
  * honors): waves are day-ordered and a calendar day never spans two
  * batches — a split day would fold as two partial counts. Emission is
  * one row per (key, day) — gap days included — written batch_id-keyed
  * with the [[StreamState]] overwrite discipline (replay
  * recomputes identical rows); each (key, day) is emitted exactly once
  * across batches by construction.
  */
object StreamCusum {

  /** Drain `sourcePath` (rows carrying a long `k` key and a long `day`
    * bucket) with AvailableNow semantics, folding per-key daily counts
    * into the CUSUM recurrence at `drift`/day. Appends
    * `(k, day, x, cusum)` rows to `sinkPath/batch_id=N`. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, keyCol: String, dayCol: String,
                      drift: Long, sinkPath: String,
                      checkpointPath: String): Long = {
    import spark.implicits._
    val stream = StreamWaves.reader(spark, schema, sourcePath)
      .select(col(keyCol).cast("long").as("k"),
        col(dayCol).cast("long").as("d"))
      .as[(Long, Long)]
    val updates = stream.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long), (Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[(Long, Long)],
         state: GroupState[(Long, Long)]) =>
          // per-batch day counts: day-cardinality-bounded, never
          // event-count-sized
          val counts = scala.collection.mutable.SortedMap.empty[Long, Long]
          rows.foreach { case (_, d) =>
            counts(d) = counts.getOrElse(d, 0L) + 1L
          }
          if (counts.isEmpty) Iterator.empty
          else {
            var (last, s) = state.getOption.getOrElse(
              (counts.firstKey - 1L, 0L))
            // the arrival contract fails LOUDLY: a batch reaching back to
            // an already-emitted day would silently drop its events AND
            // move lastDay backward (re-emitting wrong duplicate rows)
            require(counts.firstKey > last,
              s"StreamCusum: key $k received day ${counts.firstKey} <= " +
                s"already-folded day $last — waves must be day-ordered " +
                "and a day must not span batches")
            val out = Seq.newBuilder[(Long, Long, Long, Long)]
            ((last + 1) to counts.lastKey).foreach { day =>
              val x = counts.getOrElse(day, 0L)
              s = math.max(0L, s + x - drift)
              out += ((k, day, x, s))
            }
            state.update((counts.lastKey, s))
            out.result().iterator
          }
      }
      .toDF("k", "day", "x", "cusum")
    StreamState.maintain(updates, sinkPath, checkpointPath)
  }

  /** The monitor's full emitted series: every (k, day, x, cusum) row
    * across batches (each emitted exactly once). */
  def emittedSeries(spark: SparkSession, sinkPath: String): DataFrame =
    spark.read.parquet(sinkPath).select("k", "day", "x", "cusum")
}
