package graft.streaming


import graft.SparkSpec
import graft.operators.SnapshotDiff

/** The streaming churn monitor's summed increments (plus the derived
  * removed row) must equal the batch columnChurn, and replay must not
  * double-count. */
class StreamChurnSpec extends SparkSpec {
  import spark.implicits._

  private val oldSnap = Seq((1L, "a", 10L), (2L, "b", 20L),
    (3L, "c", 30L), (4L, "d", 40L)).toDF("id", "v", "w")
  private val newSnap = Seq((1L, "a", 10L),   // unchanged
    (2L, "B", 20L),                           // v changed
    (3L, "c", 33L),                           // w changed
    (5L, "e", 50L)).toDF("id", "v", "w")      // added; 4 removed

  test("waved increments sum to the batch columnChurn; replay is a no-op") {
    val dir = tempDir("schurn").toString
    val src = s"$dir/landing"
    val fps = StreamChurn.oldFingerprints(oldSnap, "id", Seq("v", "w"))
    def run(): Long = StreamChurn.runAvailableNow(spark, src,
      newSnap.schema, fps, "id", Seq("v", "w"), s"$dir/sink", s"$dir/ckpt")
    // two waves split by id parity
    StreamWaves.stage(src, Seq(newSnap.filter($"id" % 2 === 0)))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(newSnap.filter($"id" % 2 =!= 0)))
    assert(run() == 1L)
    val got = StreamChurn.currentChurn(spark, s"$dir/sink", oldSnap.count())
      .as[(String, Long)].collect().toMap
    val want = SnapshotDiff.columnChurn(oldSnap, newSnap, "id",
        Seq("v", "w"))
      .as[(String, Long)].collect().toMap
    assert(got == want)
    assert(got("removed") == 1L && got("changed") == 2L)

    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L) // no new files
    assert(spark.read.parquet(s"$dir/sink").count() == before)
  }

  test("a wave with only additions still emits zero rows for the rest") {
    val dir = tempDir("schurn2").toString
    val src = s"$dir/landing"
    val fps = StreamChurn.oldFingerprints(oldSnap, "id", Seq("v", "w"))
    StreamWaves.stage(src, Seq(Seq((9L, "z", 90L)).toDF("id", "v", "w")))
    assert(StreamChurn.runAvailableNow(spark, src, newSnap.schema, fps,
      "id", Seq("v", "w"), s"$dir/sink", s"$dir/ckpt") == 1L)
    val got = StreamChurn.currentChurn(spark, s"$dir/sink", oldSnap.count())
      .as[(String, Long)].collect().toMap
    assert(got("added") == 1L && got("changed") == 0L)
    // nothing matched yet: every old row currently reads as removed
    assert(got("removed") == 4L)
  }
}
