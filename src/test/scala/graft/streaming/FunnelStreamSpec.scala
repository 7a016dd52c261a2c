package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructField

import graft.SparkSpec
import graft.operators.Funnels

/** Streaming funnel fold vs the batch recompute: event-time-ordered waves
  * drained through [[FunnelStream]] must leave a standing state equal to
  * [[Funnels.funnelTimes]] over the full log — including chains that
  * complete WITHIN one wave and chains that complete ACROSS waves — and a
  * no-data replay must not change the answer. */
class FunnelStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val steps = Seq("view", "click", "buy")

  // u1 completes the whole funnel inside wave 1; u2's chain crosses all
  // three waves; u3 views in wave 1 and never converts; u4's click
  // arrives before any view (chain must stay open); u5 only appears in
  // wave 2 and completes within it
  private val wave1 = Seq(
    (1L, ts("2024-01-01 10:00:00"), "view"),
    (1L, ts("2024-01-01 10:05:00"), "click"),
    (1L, ts("2024-01-01 10:09:00"), "buy"),
    (2L, ts("2024-01-02 09:00:00"), "view"),
    (3L, ts("2024-01-02 11:00:00"), "view"),
    (4L, ts("2024-01-02 12:00:00"), "click"))
  private val wave2 = Seq(
    (2L, ts("2024-01-11 09:00:00"), "click"),
    (5L, ts("2024-01-12 08:00:00"), "view"),
    (5L, ts("2024-01-12 08:30:00"), "click"),
    (5L, ts("2024-01-12 09:00:00"), "buy"),
    (4L, ts("2024-01-12 10:00:00"), "view"))
  private val wave3 = Seq(
    (2L, ts("2024-01-21 09:00:00"), "buy"),
    (3L, ts("2024-01-21 10:00:00"), "error"))

  private def drain(dir: String): Long = {
    val src = s"$dir/landing"
    val schema = wave1.toDF("user_id", "ts", "etype").schema
    def run(): Long = FunnelStream.runAvailableNow(spark, src, schema,
      "user_id", "ts", "etype", steps, s"$dir/state", s"$dir/ckpt")
    Seq(wave1, wave2, wave3).foreach { w =>
      StreamWaves.stage(src, Seq(w.toDF("user_id", "ts", "etype")))
      assert(run() == 1L)
    }
    run() // no-data replay
  }

  private def standing(dir: String) =
    FunnelStream.currentTimes(spark, s"$dir/state", "user_id", steps,
        StructField("user_id", org.apache.spark.sql.types.LongType))
      .orderBy("user_id")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect().toSeq

  test("drained state equals the batch funnel over the full log; " +
      "no-data replay is a no-op") {
    val dir = tempDir("fstream").toString
    assert(drain(dir) == 0L, "a no-data replay ran a folding batch")
    val got = standing(dir)
    val full = (wave1 ++ wave2 ++ wave3).toDF("user_id", "ts", "etype")
    val want = Funnels.funnelTimes(full, "user_id", "ts", "etype", steps)
      .orderBy("user_id")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect().toSeq
    assert(got == want)
    // the interesting rows really exercise the fold paths
    val byUser = got.map(r => r._1 -> r).toMap
    assert(byUser(1L)._4.contains(ts("2024-01-01 10:09:00"))) // in-wave
    assert(byUser(2L)._4.contains(ts("2024-01-21 09:00:00"))) // cross-wave
    assert(byUser(4L)._2.contains(ts("2024-01-12 10:00:00")) &&
      byUser(4L)._3.isEmpty) // pre-view click never counts
  }

  test("compaction folds resolved rows into the batch_id=-1 base: " +
      "answer unchanged, directories bounded, later drains still fold") {
    val dir = tempDir("fstreamc").toString
    val src = s"$dir/landing"
    val schema = wave1.toDF("user_id", "ts", "etype").schema
    def run(): Long = FunnelStream.runAvailableNow(spark, src, schema,
      "user_id", "ts", "etype", steps, s"$dir/state", s"$dir/ckpt")
    def dirs(): Set[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$dir/state/delta")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("batch_id=")).toSet
    }
    Seq(wave1, wave2).foreach { w =>
      StreamWaves.stage(src, Seq(w.toDF("user_id", "ts", "etype")))
      assert(run() == 1L)
    }
    val before = standing(dir)
    // mid-chain compact: batch 0 absorbs into the base, batch 1 stays
    def compact(): Unit =
      StreamState.compact(spark, s"$dir/state/delta", Seq("user_id"))
    compact()
    assert(dirs() == Set("batch_id=-1", "batch_id=1"))
    assert(standing(dir) == before)
    compact() // no-op
    assert(standing(dir) == before)
    // the compacted base is a valid fold input, not just a valid read
    StreamWaves.stage(src, Seq(wave3.toDF("user_id", "ts", "etype")))
    assert(run() == 1L)
    compact()
    val want = Funnels.funnelTimes(
        (wave1 ++ wave2 ++ wave3).toDF("user_id", "ts", "etype"),
        "user_id", "ts", "etype", steps)
      .orderBy("user_id")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect().toSeq
    assert(standing(dir) == want)
    // a user updated across base and a later batch resolved to the
    // LATER row (u2's chain completed in wave 3, past the first compact)
    assert(standing(dir).find(_._1 == 2L).get._4
      .contains(ts("2024-01-21 09:00:00")))
  }

  test("a null-timestamp step-1 event does not hide the user's valid " +
      "step-1 event, matching the batch funnel") {
    val dir = tempDir("fstreamn").toString
    val src = s"$dir/landing"
    // u6's null-ts view sorts first in the user's event array
    val events = Seq(
      (6L, null: Timestamp, "view"),
      (6L, ts("2024-01-03 10:00:00"), "view"),
      (6L, ts("2024-01-03 10:10:00"), "click"),
      (7L, ts("2024-01-03 11:00:00"), "view"))
    val df = events.toDF("user_id", "ts", "etype")
    StreamWaves.stage(src, Seq(df))
    assert(FunnelStream.runAvailableNow(spark, src, df.schema, "user_id",
      "ts", "etype", steps, s"$dir/state", s"$dir/ckpt") == 1L)
    val want = Funnels.funnelTimes(df, "user_id", "ts", "etype", steps)
      .orderBy("user_id")
      .as[(Long, Option[Timestamp], Option[Timestamp], Option[Timestamp])]
      .collect().toSeq
    assert(standing(dir) == want)
    assert(want.find(_._1 == 6L).get._3
      .contains(ts("2024-01-03 10:10:00")))
  }
}
