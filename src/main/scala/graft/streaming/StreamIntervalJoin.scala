package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** NATIVE watermarked stream-stream interval join — the streaming
  * counterpart of `operators/RangeJoin.intervalOverlap`, expressed as
  * Spark's built-in stream-stream inner join (equi-key plus event-time
  * range), not custom keyed state: the range condition plus both sides'
  * watermarks is exactly the shape Structured Streaming bounds join
  * state with (each side's buffered rows are evicted once the global
  * watermark passes their reachable window), so this operator runs
  * forever on unbounded streams with finite state — no
  * flatMapGroupsWithState, no manual eviction.
  *
  * Semantics: sides carry fixed-length intervals opening at their event
  * time (`a` spans `[a_start, a_start + aLenSec]`, `b` spans
  * `[b_start, b_start + bLenSec]`, inclusive); a pair joins iff the
  * intervals overlap — rewritten to the time-range form Spark plans
  * state cleanup from: `b_start BETWEEN a_start - bLenSec AND a_start +
  * aLenSec`. Inner-join append output: each matched pair exactly once
  * (checkpoint-guarded across restarts).
  *
  * Batch≡stream invariant (the q205 gate): over the same inputs, the
  * emitted pair set equals the batch `intervalOverlap` — provided
  * arriving files respect the watermark delay (the gate feeds
  * time-ordered waves, the production contract for any watermarked
  * pipeline).
  *
  * LEFT OUTER (`joinType = "left_outer"`, the q262 gate): unmatched
  * left rows emit null-extended once the global watermark passes their
  * join window — unmatched work SURFACES on expiry instead of
  * vanishing (the reference's failed/late-record posture,
  * `datalakewrapper.py:286-297`), with the same bounded state. Because
  * expiry is watermark-driven, rows within `delay` of the newest event
  * stay buffered across drains; a caller needing a complete flush
  * feeds a far-future sentinel row on BOTH sides (the global watermark
  * is the minimum across sources) and filters it from the output —
  * q262 does exactly that.
  */
object StreamIntervalJoin {

  /** State partitions of the join: a stream-stream join carries FOUR
    * state stores per partition per side, so the partition count is pure
    * per-batch file-IO overhead until state actually outgrows it (the
    * measured gate cost is lifecycle-fixed: 33.6 s at sf0.1 vs 29.6 s at
    * 10× data under 32 partitions). The count is baked into the
    * checkpoint at first start, like [[Scd2Stream]]'s adaptive buckets;
    * it is sized from expected concurrent in-window rows per key-window,
    * not from input size. */
  private val StatePartitions = 2

  /** Drain both landing dirs with Trigger.AvailableNow, appending
    * matched `(a_id, b_id, user_id)` rows to `outDir`. Schemas:
    * `aDir` parquet = (a_id, user_id, a_start), `bDir` parquet =
    * (b_id, b_user_id, b_start). Returns the micro-batch count
    * ([[StreamState.drain]]).
    *
    * The join's state layout is [[StatePartitions]] partitions. */
  def runAvailableNow(spark: SparkSession, aDir: String, bDir: String,
                      aSchema: StructType, bSchema: StructType,
                      aLenSec: Long, bLenSec: Long, delay: String,
                      outDir: String, checkpointPath: String,
                      joinType: String = "inner"): Long = {
    val a = StreamWaves.reader(spark, aSchema, aDir)
      .withWatermark("a_start", delay)
    val b = StreamWaves.reader(spark, bSchema, bDir)
      .withWatermark("b_start", delay)
    val joined = a.join(b,
      col("user_id") === col("b_user_id") &&
        col("b_start") >= col("a_start") - expr(s"INTERVAL $bLenSec SECONDS") &&
        col("b_start") <= col("a_start") + expr(s"INTERVAL $aLenSec SECONDS"),
      joinType)
      .select(col("a_id"), col("b_id"), col("user_id"))
    StreamState.drain(joined, checkpointPath, StatePartitions)(
      _.format("parquet").option("path", outDir))
  }
}
