package graft.streaming


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Monitor-sink compaction through [[StreamState.compact]] with keys:
  * serving results are identical before and after folding, the newest
  * live batch survives (replay safety), and per-group granularity drops
  * evicted values with their batch. */
class StreamSinkCompactSpec extends SparkSpec {
  import spark.implicits._

  private def currentCells(sink: String) =
    StreamState.latest(spark.read.parquet(sink), Seq("depth", "bucket"))

  private def dirs(path: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSet
  }

  test("per-cell sink: served cells identical, old dirs absorbed, " +
      "newest batch kept") {
    val dir = tempDir("compact1").toString
    val sink = s"$dir/sink"
    // three batches of cumulative per-cell counts; cell (0,1) updates
    // every batch, (0,2) only in batch 0, (1,1) only in batch 2
    Seq((0, 1L, 5L), (0, 2L, 3L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=0")
    Seq((0, 1L, 9L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=1")
    Seq((0, 1L, 12L), (1, 1L, 4L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=2")
    val before = currentCells(sink)
      .as[(Int, Long, Long)].collect().toSet
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    val after = currentCells(sink)
      .as[(Int, Long, Long)].collect().toSet
    assert(after == before)
    assert(after == Set((0, 1L, 12L), (0, 2L, 3L), (1, 1L, 4L)))
    assert(dirs(sink) == Set("batch_id=-1", "batch_id=2"))
    // idempotent: nothing left to absorb
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    assert(currentCells(sink)
      .as[(Int, Long, Long)].collect().toSet == after)
  }

  test("per-group sink: a value evicted between batches dies with its " +
      "batch instead of resurfacing from an older directory") {
    val dir = tempDir("compact2").toString
    val sink = s"$dir/sink"
    // batch 0 carries values {10, 20}; batch 1 re-emits the FULL
    // standing sketch {10, 30} — 20 was evicted. Per-(g,value)
    // compaction would wrongly keep 20's old row; per-g must not.
    Seq(("k", 10L, 1L), ("k", 20L, 1L)).toDF("g", "value", "count")
      .write.parquet(s"$sink/batch_id=0")
    Seq(("k", 10L, 2L), ("k", 30L, 1L)).toDF("g", "value", "count")
      .write.parquet(s"$sink/batch_id=1")
    // a second group whose only emission is batch 0 must survive
    Seq(("z", 7L, 1L)).toDF("g", "value", "count")
      .write.mode("append").parquet(s"$sink/batch_id=0")
    Seq(("z", 8L, 1L)).toDF("g", "value", "count")
      .write.parquet(s"$sink/batch_id=2")
    val before = StreamState.latest(spark.read.parquet(sink), Seq("g"))
      .as[(String, Long, Long)].collect().toSet
    StreamState.compact(spark, sink, Seq("g"))
    val after = StreamState.latest(spark.read.parquet(sink), Seq("g"))
      .as[(String, Long, Long)].collect().toSet
    assert(after == before)
    assert(after == Set(("k", 10L, 2L), ("k", 30L, 1L), ("z", 8L, 1L)))
    assert(!after.exists { case (_, v, _) => v == 20L })
  }

  test("a crash between retiring the old snapshot and landing the new " +
      "one self-heals: serving is identical on the next invocation") {
    val dir = tempDir("compact4").toString
    val sink = s"$dir/sink"
    Seq((0, 1L, 5L), (0, 2L, 3L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=0")
    Seq((0, 1L, 9L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=1")
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    // cell (0,2) now lives ONLY in batch_id=-1 (its source dir is gone)
    assert(dirs(sink) == Set("batch_id=-1", "batch_id=1"))
    val before = currentCells(sink)
      .as[(Int, Long, Long)].collect().toSet
    assert(before.contains((0, 2L, 3L)))
    // simulate the crash window: the old snapshot was renamed aside
    // but the new one never landed
    val p = new org.apache.hadoop.fs.Path(sink)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(p, "batch_id=-1"),
      new org.apache.hadoop.fs.Path(sink + "_retired")))
    Seq((0, 1L, 12L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=2")
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    val after = currentCells(sink)
      .as[(Int, Long, Long)].collect().toSet
    // (0,2)=3 survived the crash; (0,1) advanced to batch 2's value
    assert(after == Set((0, 1L, 12L), (0, 2L, 3L)))
    assert(dirs(sink) == Set("batch_id=-1", "batch_id=2"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(sink + "_retired")))
  }

  test("a single live batch is never absorbed and a fresh fold extends " +
      "a prior batch_id=-1 snapshot") {
    val dir = tempDir("compact3").toString
    val sink = s"$dir/sink"
    Seq((0, 1L, 5L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=0")
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    assert(dirs(sink) == Set("batch_id=0")) // nothing to absorb
    Seq((0, 1L, 8L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=1")
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    assert(dirs(sink) == Set("batch_id=-1", "batch_id=1"))
    Seq((0, 2L, 2L)).toDF("depth", "bucket", "c")
      .write.parquet(s"$sink/batch_id=2")
    StreamState.compact(spark, sink, Seq("depth", "bucket"))
    assert(dirs(sink) == Set("batch_id=-1", "batch_id=2"))
    assert(currentCells(sink)
      .as[(Int, Long, Long)].collect().toSet ==
      Set((0, 1L, 8L), (0, 2L, 2L)))
  }
}
