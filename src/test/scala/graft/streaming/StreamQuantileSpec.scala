package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The streaming quantile-sketch monitor: bounded state, exact weights,
  * and the once-evicted-never-returns trim. */
class StreamQuantileSpec extends SparkSpec {
  import spark.implicits._

  private def entries(spark: org.apache.spark.sql.SparkSession,
                      sink: String) =
    StreamQuantile.currentEntries(spark, sink)
      .as[(String, Long, Long)].collect().toSet

  private def oneShot(rows: Seq[(String, Long)], cap: Int) =
    graft.operators.AggMaintain.quantileState(
        rows.toDF("g", "v"), "g", "v", cap)
      .select($"g", explode($"q_sketch").as("e"))
      .select($"g", $"e.value", $"e.count")
      .as[(String, Long, Long)].collect().toSet

  test("standing entries equal the one-shot sketch across waves, " +
      "SATURATED — an evicted value re-arriving cannot re-enter with " +
      "partial weight") {
    val dir = tempDir("squant").toString
    val src = s"$dir/landing"
    // capacity 3 over 6 distinct values: wave 2 re-delivers rows of
    // values wave 1 already saw (weights must ACCUMULATE) and brings
    // new values that evict some — any value the trim drops must also
    // be absent from the one-shot sketch
    val w1 = Seq(("k", 10L), ("k", 10L), ("k", 20L), ("k", 30L),
      ("k", 40L))
    val w2 = Seq(("k", 10L), ("k", 50L), ("k", 60L), ("k", 20L),
      ("k", 40L))
    val schema = w1.toDF("g", "v").schema
    def run(): Long = StreamQuantile.runAvailableNow(spark, src, schema,
      "g", "v", 3, s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(w1.toDF("g", "v")))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(w2.toDF("g", "v")))
    assert(run() == 1L)
    assert(entries(spark, s"$dir/sink") == oneShot(w1 ++ w2, 3))

    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L) // no new files
    assert(spark.read.parquet(s"$dir/sink").count() == before)
  }

  test("quantiles served off the standing entries match the batch path") {
    val dir = tempDir("squant2").toString
    val src = s"$dir/landing"
    val rows = (1 to 100).map(i => ("k", i.toLong))
    val schema = rows.toDF("g", "v").schema
    def run(): Long = StreamQuantile.runAvailableNow(spark, src, schema,
      "g", "v", 256, s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(rows.toDF("g", "v")))
    assert(run() == 1L)
    val st = StreamQuantile.currentEntries(spark, s"$dir/sink")
    // unsaturated: the standing histogram is the full value table
    val total = st.agg(sum($"count")).as[Long].head()
    assert(total == 100L && st.count() == 100L)
  }
}
