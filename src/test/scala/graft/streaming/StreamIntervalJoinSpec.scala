package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The stream-stream LEFT OUTER interval join's gate invariant (q262),
  * pinned at spec scale: over watermark-ordered waves flushed by a
  * far-future sentinel on both sides, the emitted pair set (sentinels
  * filtered) equals the batch
  * [[graft.operators.RangeJoin.intervalOverlapLeft]] under identical
  * bounds — unmatched left rows surface null-extended exactly once.
  * (Exactly-once replay across restarts is StreamReplaySpec's pin.) */
class StreamIntervalJoinSpec extends SparkSpec {
  import spark.implicits._

  test("left-outer stream interval join equals the batch left range " +
      "join, including null-extended expiries") {
    val dir = tempDir("sivj").toString
    val (aDir, bDir) = (s"$dir/a", s"$dir/b")
    def ts(min: Long) = new Timestamp(1700000000000L + min * 60000L)
    // keys 1-3; a 2 matches, a 1/3 expire unmatched; one b never matches
    val a = Seq((10L, 1L, ts(0)), (11L, 2L, ts(5)), (12L, 3L, ts(200)))
      .toDF("a_id", "user_id", "a_start")
    val b = Seq((20L, 2L, ts(10)), (21L, 9L, ts(15)))
      .toDF("b_id", "b_user_id", "b_start")
    val far = ts(100000)
    StreamWaves.stage(aDir, Seq(
      a.filter($"a_start" < ts(100)), a.filter($"a_start" >= ts(100)),
      Seq((-1L, -999L, far)).toDF("a_id", "user_id", "a_start")))
    StreamWaves.stage(bDir, Seq(
      b.filter($"b_start" < ts(100)), b.filter($"b_start" >= ts(100)),
      Seq((-1L, -998L, far)).toDF("b_id", "b_user_id", "b_start")))
    val batches = StreamIntervalJoin.runAvailableNow(spark, aDir, bDir,
      a.schema, b.schema, aLenSec = 3600L, bLenSec = 1800L,
      delay = "1 hour", outDir = s"$dir/out",
      checkpointPath = s"$dir/ckpt", joinType = "left_outer")
    val got = spark.read.parquet(s"$dir/out")
      .filter($"a_id" >= 0)
      .select($"a_id", coalesce($"b_id", lit(-1L)).as("b_id"), $"user_id")
    val want = graft.operators.RangeJoin.intervalOverlapLeft(
        a.withColumn("a_end", $"a_start" + expr("INTERVAL 3600 SECONDS")),
        b.select($"b_id", $"b_user_id".as("user_id"), $"b_start",
          ($"b_start" + expr("INTERVAL 1800 SECONDS")).as("b_end")),
        Seq("user_id"), "a_start", "a_end", "b_start", "b_end",
        bucketSeconds = 3600L, leftIdCol = "a_id")
      .select($"a_id", coalesce($"b_id", lit(-1L)).as("b_id"), $"user_id")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    // one micro-batch per staged wave: each side's wave i lands in batch i
    assert(batches == 3L)
    // the unmatched lefts really surface
    assert(got.filter($"b_id" === -1L).count() == 2L)
  }
}
