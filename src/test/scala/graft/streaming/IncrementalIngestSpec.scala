package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Exactly-once-per-id ingest across repeated runs with overlapping input —
  * the reference's extraction-history contract. */
class IncrementalIngestSpec extends SparkSpec {
  import spark.implicits._

  private def sinkIds(sink: String): Seq[Long] =
    spark.read.parquet(sink).select("dl_id").as[Long].collect().sorted.toSeq

  test("overlapping batches land exactly once; later runs pick up only new ids") {
    val base = tempDir("graft_stream").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")

    // batch 1: ids 1-4
    Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("dl_id", "payload")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    IncrementalIngest.runAvailableNow(spark, src, schema, "dl_id", sink, ckpt)
    assert(spark.read.parquet(sink).count() == 4)

    // batch 2: ids 3-6 (3,4 are replays) plus an in-batch dup of 5
    Seq((3L, "c"), (4L, "d"), (5L, "e"), (5L, "e"), (6L, "f"))
      .toDF("dl_id", "payload").write.mode("append").parquet(src)
    IncrementalIngest.runAvailableNow(spark, src, schema, "dl_id", sink, ckpt)
    assert(sinkIds(sink) == Seq(1L, 2L, 3L, 4L, 5L, 6L))
  }

  test("a replayed batch (its commit lost) re-lands the same rows: the " +
      "anti-join does not read the batch's own directory") {
    val base = tempDir("graft_replay").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    Seq((1L, "a"), (2L, "b")).toDF("dl_id", "payload")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Long =
      IncrementalIngest.runAvailableNow(spark, src, schema, "dl_id", sink, ckpt)
    def rows(): Seq[(Long, String, Int)] = spark.read.parquet(sink)
      .select($"dl_id", $"payload", $"batch_id").as[(Long, String, Int)]
      .collect().sorted.toSeq
    assert(run() == 1L)
    Seq((2L, "b"), (3L, "c")).toDF("dl_id", "payload")
      .write.mode("append").parquet(src)
    assert(run() == 1L)
    val landed = rows()
    assert(landed == Seq((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)))
    // the crash window: batch 1's output landed, its commit did not
    Seq("1", ".1.crc").foreach(n =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$ckpt/commits/$n")))
    assert(run() == 1L)
    assert(rows() == landed)
  }

  test("compaction bounds the file count across runs without changing content") {
    val base = tempDir("graft_compact").toString
    val (src, sink, ckpt) = (s"$base/src", s"$base/sink", s"$base/ckpt")
    val schema = Seq((0L, "x")).toDF("dl_id", "payload").schema
    (1 to 4).foreach { i =>
      Seq((i.toLong, s"p$i"), (i.toLong + 100, s"q$i")).toDF("dl_id", "payload")
        .write.mode("append").parquet(src)
      IncrementalIngest.runAvailableNow(spark, src, schema, "dl_id", sink, ckpt)
    }
    def parquetFiles(dir: String): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(sink)
    def batchDirs(dir: String): Set[String] =
      new java.io.File(dir).listFiles().filter(_.isDirectory)
        .map(_.getName).filter(_.startsWith("batch_id=")).toSet
    val newestSink = batchDirs(sink).map(_.stripPrefix("batch_id=").toLong).max
    val newestFiles = new java.io.File(s"$sink/batch_id=$newestSink")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap
    StreamState.compact(spark, sink, Seq("dl_id"))
    assert(parquetFiles(sink) < before)
    // everything absorbed into batch_id=-1 EXCEPT the newest batch, which
    // stays replayable (its checkpoint commit may not have landed)
    assert(batchDirs(sink) == Set("batch_id=-1", s"batch_id=$newestSink"))
    assert(new java.io.File(s"$sink/batch_id=$newestSink")
      .listFiles().map(f => f.getName -> f.lastModified()).toMap == newestFiles)
    // content unchanged; a further run still dedups against the compacted sink
    assert(sinkIds(sink).length == 8)
    Seq((4L, "replay"), (5L, "new")).toDF("dl_id", "payload")
      .write.mode("append").parquet(src)
    IncrementalIngest.runAvailableNow(spark, src, schema, "dl_id", sink, ckpt)
    assert(sinkIds(sink) == Seq(1L, 2L, 3L, 4L, 5L, 101L, 102L, 103L, 104L))
  }

  test("tumblingAgg groups events into window buckets (batch = streaming semantics)") {
    val events = Seq(
      ("2024-01-01 00:01:00", "click", 1.0),
      ("2024-01-01 00:02:00", "click", 2.0),
      ("2024-01-01 00:59:00", "view", 5.0),
      ("2024-01-01 01:01:00", "click", 4.0))
      .toDF("ts_s", "event_type", "value")
      .select(to_timestamp($"ts_s").as("ts"), $"event_type", $"value")
    val out = EventStreams.tumblingAgg(events, "ts", "1 hour")
      .orderBy("window_start", "event_type")
      .select($"event_type", $"n", $"total_value")
      .as[(String, Long, Double)].collect().toSeq
    assert(out == Seq(("click", 2L, 3.0), ("view", 1L, 5.0), ("click", 1L, 4.0)))
  }
}
