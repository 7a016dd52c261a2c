package graft.streaming


import graft.SparkSpec

/** Streaming CUSUM: restored (lastDay, S) state, synthesized gap days,
  * exactly-once per (key, day) emission. */
class StreamCusumSpec extends SparkSpec {
  import spark.implicits._

  private def setup(prefix: String) = {
    val dir = tempDir(prefix).toString
    val run = () => StreamCusum.runAvailableNow(
      spark, s"$dir/landing", Seq((1L, 1L)).toDF("k", "day").schema,
      "k", "day", drift = 2, s"$dir/sink", s"$dir/ckpt")
    (dir, run)
  }

  test("folds counts in day order, synthesizing silent days") {
    val (dir, run) = setup("scu")
    // day 10: 5 events; day 11: 1; day 14: 4 (days 12, 13 silent)
    StreamWaves.stage(s"$dir/landing", Seq((Seq.fill(5)((7L, 10L)) ++
      Seq((7L, 11L)) ++ Seq.fill(4)((7L, 14L))).toDF("k", "day")))
    assert(run() == 1L)
    val got = StreamCusum.emittedSeries(spark, s"$dir/sink")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._2 -> ((r._3, r._4))).toMap
    // S: max(0,0+5−2)=3; 3+1−2=2; silent 12: 0; silent 13: 0? — 2−2=0,
    // then 0−2→0; day 14: 0+4−2=2
    assert(got == Map(10L -> ((5L, 3L)), 11L -> ((1L, 2L)),
      12L -> ((0L, 0L)), 13L -> ((0L, 0L)), 14L -> ((4L, 2L))))
  }

  test("state restores across drains; cross-wave gaps synthesize") {
    val (dir, run) = setup("scu2")
    StreamWaves.stage(s"$dir/landing",
      Seq(Seq.fill(6)((1L, 20L)).toDF("k", "day")))
    assert(run() == 1L) // S(20) = 4
    // wave 2 arrives at day 23: days 21, 22 must decay S inside the fold
    StreamWaves.stage(s"$dir/landing",
      Seq(Seq.fill(3)((1L, 23L)).toDF("k", "day")))
    assert(run() == 1L)
    val got = StreamCusum.emittedSeries(spark, s"$dir/sink")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._2 -> r._4).toMap
    // 20: 4; 21: 2; 22: 0; 23: max(0, 0+3−2) = 1
    assert(got == Map(20L -> 4L, 21L -> 2L, 22L -> 0L, 23L -> 1L))
    // every (key, day) exactly once
    assert(StreamCusum.emittedSeries(spark, s"$dir/sink").count() == 4L)
    // replay with no new files leaves the sink untouched
    assert(run() == 0L)
    assert(StreamCusum.emittedSeries(spark, s"$dir/sink").count() == 4L)
  }

  test("an out-of-order wave fails loudly instead of corrupting state") {
    val (dir, run) = setup("scu4")
    StreamWaves.stage(s"$dir/landing", Seq(Seq((1L, 20L)).toDF("k", "day")))
    assert(run() == 1L)
    // a late file reaching back to an already-folded day must raise,
    // not silently drop events and rewind lastDay
    StreamWaves.stage(s"$dir/landing", Seq(Seq((1L, 19L)).toDF("k", "day")))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run()
    }
    assert(e.getMessage.contains("day-ordered") ||
      Option(e.getCause).exists(_.getMessage.contains("day-ordered")))
  }

  test("matches the batch densify + cusum composition") {
    import org.apache.spark.sql.functions._
    val (dir, run) = setup("scu3")
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(300)((rng.nextInt(4).toLong,
      (10 + rng.nextInt(15)).toLong))
    val (w1, w2) = rows.partition(_._2 <= 17)
    StreamWaves.stage(s"$dir/landing", Seq(w1.toDF("k", "day")))
    assert(run() == 1L)
    StreamWaves.stage(s"$dir/landing", Seq(w2.toDF("k", "day")))
    assert(run() == 1L)
    val streamed = StreamCusum.emittedSeries(spark, s"$dir/sink")
      .as[(Long, Long, Long, Long)].collect().toSet
    val daily = rows.toDF("k", "day").groupBy("k", "day")
      .agg(count(lit(1)).as("n"))
    val dense = graft.operators.GapFill.densify(daily, Seq("k"), "day")
      .select(col("k"), col("day"), coalesce(col("n"), lit(0L)).as("x"))
    val batch = graft.operators.SortedFold
      .cusum(dense, "k", Seq("day"), "x", drift = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed == batch)
  }
}
