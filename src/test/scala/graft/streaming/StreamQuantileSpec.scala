package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.operators.AggMaintain

/** The streaming quantile-sketch monitor, [[AggMaintain.quantileState]]
  * run on a stream through [[StreamState.maintain]]: bounded state,
  * exact weights, and the once-evicted-never-returns trim. */
class StreamQuantileSpec extends SparkSpec {
  import spark.implicits._

  private def maintain(src: String, schema: StructType, cap: Int,
                       dir: String): Long =
    StreamState.maintain(AggMaintain.quantileState(
      StreamWaves.reader(spark, schema, src), "g", "v", cap),
      s"$dir/sink", s"$dir/ckpt")

  private def currentEntries(sink: String): DataFrame =
    StreamState.latest(spark.read.parquet(sink), Seq("g"))
      .select($"g", explode($"q_sketch").as("e"))
      .select($"g", $"e.value", $"e.count")

  private def entries(sink: String) =
    currentEntries(sink).as[(String, Long, Long)].collect().toSet

  private def oneShot(rows: DataFrame, cap: Int) =
    AggMaintain.quantileState(rows, "g", "v", cap)
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
    def run(): Long = maintain(src, w1.toDF("g", "v").schema, 3, dir)
    StreamWaves.stage(src, Seq(w1.toDF("g", "v")))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(w2.toDF("g", "v")))
    assert(run() == 1L)
    assert(entries(s"$dir/sink") == oneShot((w1 ++ w2).toDF("g", "v"), 3))

    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L) // no new files
    assert(spark.read.parquet(s"$dir/sink").count() == before)
  }

  test("quantiles served off the standing entries match the batch path") {
    val dir = tempDir("squant2").toString
    val src = s"$dir/landing"
    val rows = (1 to 100).map(i => ("k", i.toLong))
    def run(): Long = maintain(src, rows.toDF("g", "v").schema, 256, dir)
    StreamWaves.stage(src, Seq(rows.toDF("g", "v")))
    assert(run() == 1L)
    val st = currentEntries(s"$dir/sink")
    // unsaturated: the standing histogram is the full value table
    val total = st.agg(sum($"count")).as[Long].head()
    assert(total == 100L && st.count() == 100L)
  }

  test("a null value is skipped, as by the one-shot sketch") {
    val dir = tempDir("squant3").toString
    val src = s"$dir/landing"
    val w1 = Seq[(String, Option[Long])](("k", Some(1L)), ("k", None),
      ("j", Some(5L))).toDF("g", "v")
    val w2 = Seq[(String, Option[Long])](("k", Some(1L)), ("k", Some(2L)),
      ("j", None)).toDF("g", "v")
    StreamWaves.stage(src, Seq(w1, w2))
    assert(maintain(src, w1.schema, 3, dir) == 2L)
    val want = oneShot(w1.union(w2), 3)
    assert(want == Set(("k", 1L, 2L), ("k", 2L, 1L), ("j", 5L, 1L)))
    assert(entries(s"$dir/sink") == want)
  }
}
