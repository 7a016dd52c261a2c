package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

/** Streaming lateness monitor:
  * [[graft.operators.TimeSeries.latenessAudit]]'s out-of-orderness
  * report maintained as STREAMING STATE, so the feed's watermark
  * budget is visible WHILE it ingests — "p-max lateness just jumped to
  * 40 minutes on this wave" is the signal to widen `withWatermark`
  * BEFORE the narrow setting drops events, not after the batch audit
  * counts the casualties.
  *
  * State per key is four longs (high-water mark, n, n_late,
  * max_late) — O(1), the fold the batch operator runs per key. Each
  * micro-batch sorts ITS OWN rows per key by the arrival column
  * (group-batch-sized buffer, the [[FunnelStream]] discipline — the
  * grouped iterator carries no order guarantee) and folds them through
  * the same strict-< high-water comparison.
  *
  * Arrival contract: waves are arrival-ordered ACROSS batches (each
  * wave's arrival ids all exceed the previous wave's — the append-log
  * shape), enforced loudly per key. Emission is one standing-audit row
  * per touched key per batch, batch_id-keyed with the
  * [[StreamState]] overwrite discipline; the newest row per key
  * IS the state, and once the stream drains it must equal the batch
  * audit row for row — the q247 gate invariant.
  */
object StreamLateness {

  /** Drain `sourcePath` (rows carrying long key / arrival / event-time
    * micros columns) with AvailableNow semantics. Appends
    * `(k, last_arrival, n, n_late, max_late_us)` rows to
    * `sinkPath/batch_id=N`. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, keyCol: String, arrivalCol: String,
                      tsMicrosCol: String, sinkPath: String,
                      checkpointPath: String): Long = {
    import spark.implicits._
    val stream = StreamWaves.reader(spark, schema, sourcePath)
      .select(col(keyCol).cast("long").as("k"),
        col(arrivalCol).cast("long").as("a"),
        col(tsMicrosCol).cast("long").as("t"))
      .as[(Long, Long, Long)]
    val updates = stream.groupByKey(_._1)
      .flatMapGroupsWithState[(Long, Long, Long, Long, Long),
        (Long, Long, Long, Long, Long)](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (k: Long, rows: Iterator[(Long, Long, Long)],
         state: GroupState[(Long, Long, Long, Long, Long)]) =>
          val batch = rows.map { case (_, a, t) => (a, t) }.toArray
          if (batch.isEmpty) Iterator.empty
          else {
            java.util.Arrays.sort(batch,
              Ordering.by((p: (Long, Long)) => p._1))
            var (lastA, hw, n, nLate, maxLate) = state.getOption.getOrElse(
              (Long.MinValue, Long.MinValue, 0L, 0L, 0L))
            require(batch.head._1 > lastA,
              s"StreamLateness: key $k received arrival ${batch.head._1}" +
                s" <= already-folded arrival $lastA — waves must be " +
                "arrival-ordered across batches")
            batch.foreach { case (a, t) =>
              if (n > 0L && t < hw) {
                nLate += 1L
                if (hw - t > maxLate) maxLate = hw - t
              }
              if (t > hw || n == 0L) hw = t
              n += 1L
              lastA = a
            }
            state.update((lastA, hw, n, nLate, maxLate))
            Iterator.single((k, lastA, n, nLate, maxLate))
          }
      }
      .toDF("k", "last_arrival", "n", "n_late", "max_late_us")
    StreamState.maintain(updates, sinkPath, checkpointPath)
  }

  /** The standing audit: each key's newest batch row (state is
    * cumulative), shaped like the batch operator's output. */
  def currentAudit(spark: SparkSession, sinkPath: String): DataFrame =
    StreamState.latest(spark.read.parquet(sinkPath), Seq("k"))
      .select(col("k"), col("n"), col("n_late"), col("max_late_us"))
}
