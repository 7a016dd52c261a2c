package graft.streaming


import graft.SparkSpec
import graft.functions.Sketches

/** The streaming quantile monitor, [[Sketches.groupQuantiles]] run on a
  * stream through [[StreamState.maintain]], must fold new batches into
  * RESTORED sketch state (not recompute), emit one report row per
  * updated group per batch, and converge to exactly the batch
  * aggregate. */
class StreamStatsSpec extends SparkSpec {
  import spark.implicits._

  test("state restores across runs and converges to the batch sketch") {
    val dir = tempDir("sst").toString
    val src = s"$dir/landing"
    val schema = Seq(("a", 1L)).toDF("g", "v").schema
    def run(): Long = StreamState.maintain(Sketches.groupQuantiles(
        StreamWaves.reader(spark, schema, src), Seq("g"), "v",
        Seq(("p50", 0.5), ("p90", 0.9), ("p99", 0.99)), capacity = 256),
      s"$dir/sink", s"$dir/ckpt")
    def report(batch: Int) =
      spark.read.parquet(s"$dir/sink/batch_id=$batch")
        .as[(String, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, Seq(r._4, r._5, r._6)))).toMap

    // wave 1: group a sees 1..10 → p50 = 5, p90 = 9, p99 = 10
    StreamWaves.stage(src, Seq((1L to 10L).map(("a", _)).toDF("g", "v")))
    assert(run() == 1L)
    val b0 = report(0)
    assert(b0("a") == ((10L, 10L, Seq(5L, 9L, 10L))))

    // wave 2: group a sees 11..30 (state must carry the first 10: mass
    // 30, p50 = 15, p90 = 27, p99 = 30 — a stateless recompute of wave 2
    // alone would say p50 = 20)
    // and group b appears for the first time
    StreamWaves.stage(src,
      Seq(((11L to 30L).map(("a", _)) ++ Seq(("b", 7L))).toDF("g", "v")))
    assert(run() == 1L)
    val b1 = report(1)
    assert(b1("a") == ((30L, 30L, Seq(15L, 27L, 30L))))
    assert(b1("b") == ((1L, 1L, Seq(7L, 7L, 7L))))

    // replay with no new files: the sink must not gain batches
    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/sink").count() == before)
  }
}
