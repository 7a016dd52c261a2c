package graft.streaming

import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.functions.Bitmap

/** The streaming exact-bitmap monitor is [[graft.functions.Bitmap.bitmaps]]
  * run on a stream through [[StreamState.maintain]]: negative ids fail
  * loudly (the batch contract) instead of silently corrupting the
  * maintained words, and the standing words are the batch words. */
class StreamBitmapSpec extends SparkSpec {
  import spark.implicits._

  private def run(src: String, schema: StructType, dir: String): Long =
    StreamState.maintain(
      Bitmap.bitmaps(StreamWaves.reader(spark, schema, src), "g", "v"),
      s"$dir/sink", s"$dir/ckpt")

  private def served(dir: String) =
    StreamState.latest(spark.read.parquet(s"$dir/sink"), Seq("g", "bucket"))

  test("a negative id fails the stream loudly, like the batch contract") {
    val dir = tempDir("sbitmap").toString
    val src = s"$dir/landing"
    val rows = Seq(("k", 5L), ("k", -1L))
    val schema = rows.toDF("g", "v").schema
    StreamWaves.stage(src, Seq(rows.toDF("g", "v")))
    val e = intercept[Exception](run(src, schema, dir))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("negative")))
  }

  test("non-negative ids maintain words identical to the batch bitmap") {
    val dir = tempDir("sbitmap2").toString
    val src = s"$dir/landing"
    val rows = Seq(("a", 0L), ("a", 62L), ("a", 63L), ("b", 5L),
      ("a", 62L))
    val schema = rows.toDF("g", "v").schema
    StreamWaves.stage(src, Seq(rows.toDF("g", "v")))
    assert(run(src, schema, dir) == 1L)
    val got = served(dir).as[(String, Long, Long)].collect().toSet
    val want = Bitmap.bitmaps(
        rows.toDF("g", "v"), "g", "v")
      .as[(String, Long, Long)].collect().toSet
    assert(got == want)
  }

  test("a null group survives the newest-per-key read and compaction") {
    val dir = tempDir("sbitmap3").toString
    val src = s"$dir/landing"
    val rows = Seq[(String, Long)]((null, 1L), ("a", 2L), (null, 70L),
      ("b", 3L), (null, 1L), ("a", 64L)).toDF("g", "v")
    StreamWaves.stage(src, Seq(rows.limit(2), rows.filter($"v" === 70L ||
      $"v" === 3L), rows.filter($"v" === 64L || ($"v" === 1L))))
    // one micro-batch per staged wave
    assert(run(src, rows.schema, dir) == 3L)
    val want = Bitmap.bitmaps(rows, "g", "v")
      .as[(String, Long, Long)].collect().toSet
    assert(want.exists(_._1 == null))
    def got = served(dir).as[(String, Long, Long)].collect().toSet
    assert(got == want)
    StreamState.compact(spark, s"$dir/sink", Seq("g", "bucket"))
    assert(got == want)
  }
}
