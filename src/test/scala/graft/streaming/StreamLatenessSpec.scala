package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The streaming lateness monitor must fold arrival-ordered waves into
  * RESTORED per-key high-water state and converge to the batch audit. */
class StreamLatenessSpec extends SparkSpec {
  import spark.implicits._

  test("standing audit equals the batch audit; replay is a no-op") {
    val dir = tempDir("slate").toString
    val src = s"$dir/landing"
    // key 1: t = 10, 30, 20 (late 10), 25 (late 5) across two waves —
    // the high-water mark must SURVIVE the batch boundary
    val all = Seq((1L, 1L, 10L), (1L, 2L, 30L), (1L, 3L, 20L),
      (1L, 4L, 25L), (2L, 5L, 7L)).toDF("k", "a", "t")
    def run(): Long = StreamLateness.runAvailableNow(spark, src,
      all.schema, "k", "a", "t", s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(all.filter($"a" <= 2)))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(all.filter($"a" > 2)))
    assert(run() == 1L)
    val got = StreamLateness.currentAudit(spark, s"$dir/sink")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = graft.operators.TimeSeries.latenessAudit(all, "k", "a", "t", "a")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want)
    assert(got.contains((1L, 4L, 2L, 10L)))

    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/sink").count() == before)
  }

  test("an arrival-order violation across waves fails loudly") {
    val dir = tempDir("slatev").toString
    val src = s"$dir/landing"
    val w1 = Seq((1L, 10L, 100L)).toDF("k", "a", "t")
    def run(): Long = StreamLateness.runAvailableNow(spark, src,
      w1.schema, "k", "a", "t", s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(w1))
    assert(run() == 1L)
    // arrival 5 < folded 10
    StreamWaves.stage(src, Seq(Seq((1L, 5L, 50L)).toDF("k", "a", "t")))
    val e = intercept[Exception] { run() }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("arrival-ordered")))
  }
}
