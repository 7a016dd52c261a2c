package graft.streaming

import java.net.URI
import java.nio.file.Files

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** A local file system under its own scheme that refuses every rename
  * `refuse` matches — the way a Hadoop rename reports failure, by
  * returning false. */
class FailingRenameFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    !FailingRenameFileSystem.refuse(src, dst) && super.rename(src, dst)
}

object FailingRenameFileSystem {
  @volatile var refuse: (Path, Path) => Boolean = (_, _) => false

  /** Runs `f` with the renames `r` matches refused. */
  def refusing[T](r: (Path, Path) => Boolean)(f: => T): T = {
    refuse = r
    try f finally refuse = (_, _) => false
  }
}

/** The `batch_id` state protocol in one place: the AvailableNow drain's
  * batch count and state-partition scope, the newest-per-key read, and
  * the compaction swap under a failed rename. */
class StreamStateSpec extends SparkSpec {
  import spark.implicits._

  private val partitionsKey = "spark.sql.shuffle.partitions"

  test("drain counts every staged wave, an empty one included") {
    val dir = tempDir("ss_drain").toString
    val src = s"$dir/landing"
    val rows = (1L to 6L).toDF("id")
    StreamWaves.stage(src, Seq(rows.filter($"id" <= 3), rows.limit(0),
      rows.filter($"id" > 3)))
    val n = StreamState.drain(
        StreamWaves.reader(spark, rows.schema, src), s"$dir/ckpt")(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, s"$dir/sink", batchId) })
    assert(n == 3L)
    assert(new java.io.File(s"$dir/sink").list().filter(_.startsWith("batch"))
      .sorted.toSeq == Seq("batch_id=0", "batch_id=1", "batch_id=2"))
    // a restart with no new input executes nothing
    assert(StreamState.drain(
        StreamWaves.reader(spark, rows.schema, src), s"$dir/ckpt")(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, s"$dir/sink", batchId) }) == 0L)
  }

  test("drain does not count a no-data batch that only advances the " +
      "watermark") {
    val dir = tempDir("ss_nodata").toString
    val src = s"$dir/landing"
    def at(u: Long, t: String) = (u, java.sql.Timestamp.valueOf(t), 1L)
    val rows = Seq(at(1L, "2024-01-01 00:00:00"), at(-1L, "2030-01-01 00:00:00"),
      at(-1L, "2030-06-01 00:00:00")).toDF("user_id", "ts", "value")
    StreamWaves.stage(src, Seq(rows.limit(1), rows.filter($"ts" ===
      java.sql.Timestamp.valueOf("2030-01-01 00:00:00")), rows.filter(
      $"ts" === java.sql.Timestamp.valueOf("2030-06-01 00:00:00"))))
    val n = StreamState.drain(Sessionize.sessionsStream(
        StreamWaves.reader(spark, rows.schema, src)
          .withWatermark("ts", "60 seconds"),
        "user_id", "ts", "30 minutes", col("value")), s"$dir/ckpt")(
      _.format("parquet").option("path", s"$dir/sink").outputMode("append"))
    val committed = new java.io.File(s"$dir/ckpt/commits").list()
      .count(_.forall(_.isDigit))
    assert(n == 3L)
    assert(committed > 3, s"expected a trailing no-data batch, $committed")
  }

  test("a throwing foreachBatch surfaces its exception and restores the " +
      "session's shuffle partitions") {
    val dir = tempDir("ss_throw").toString
    val src = s"$dir/landing"
    val rows = (1L to 3L).toDF("id")
    StreamWaves.stage(src, Seq(rows))
    val prior = spark.conf.get(partitionsKey)
    spark.conf.set(partitionsKey, "7")
    try {
      val e = intercept[Exception] {
        StreamState.drain(StreamWaves.reader(spark, rows.schema, src),
            s"$dir/ckpt", statePartitions = 2)(
          _.foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("boom in batch") })
      }
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x =>
          Option(x.getMessage).toSeq ++ messages(x.getCause))
      assert(messages(e).exists(_.contains("boom in batch")))
      assert(spark.conf.get(partitionsKey) == "7")
    } finally spark.conf.set(partitionsKey, prior)
  }

  test("the checkpoint records the requested state-partition count") {
    val prior = spark.conf.get(partitionsKey)
    spark.conf.set(partitionsKey, "3")
    try Seq(2, 4).foreach { n =>
      val dir = tempDir(s"ss_parts$n").toString
      val src = s"$dir/landing"
      val rows = Seq(("a", 1L), ("b", 2L), ("a", 3L)).toDF("g", "v")
      StreamWaves.stage(src, Seq(rows))
      StreamState.drain(StreamWaves.reader(spark, rows.schema, src)
          .groupBy($"g").count(), s"$dir/ckpt", statePartitions = n)(
        _.outputMode("update").foreachBatch {
          (batch: DataFrame, batchId: Long) =>
            StreamState.writeBatch(batch, s"$dir/sink", batchId) })
      val offsets = new String(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/ckpt/offsets/0")), "UTF-8")
      assert(offsets.contains(s""""$partitionsKey":"$n""""), offsets)
      assert(spark.conf.get(partitionsKey) == "3")
    } finally spark.conf.set(partitionsKey, prior)
  }

  test("latest keeps every row of each key's newest batch; null keys " +
      "form one group; no keys keeps the newest batch") {
    val dir = tempDir("ss_latest").toString
    val sink = s"$dir/sink"
    // per-group emissions: each batch re-emits the group's whole sketch
    StreamState.writeBatch(Seq[(String, Long, Long)](("k", 10L, 1L),
        ("k", 20L, 1L), ("z", 7L, 1L), (null, 1L, 1L))
      .toDF("g", "value", "count"), sink, 0L)
    StreamState.writeBatch(Seq[(String, Long, Long)](("k", 10L, 2L),
        ("k", 30L, 1L), (null, 2L, 1L), (null, 3L, 4L))
      .toDF("g", "value", "count"), sink, 1L)
    val df = spark.read.parquet(sink)
    assert(StreamState.latest(df, Seq("g")).as[(String, Long, Long)]
      .collect().toSet == Set(("k", 10L, 2L), ("k", 30L, 1L), ("z", 7L, 1L),
        (null, 2L, 1L), (null, 3L, 4L)))
    assert(StreamState.latest(df, Nil).as[(String, Long, Long)]
      .collect().toSet == Set(("k", 10L, 2L), ("k", 30L, 1L),
        (null, 2L, 1L), (null, 3L, 4L)))
  }

  test("a compaction whose landing rename fails throws and keeps every " +
      "previously compacted row") {
    spark.sparkContext.hadoopConfiguration.set("fs.failrename.impl",
      classOf[FailingRenameFileSystem].getName)
    val dir = tempDir("ss_rename").toString
    val path = s"failrename://$dir/table"
    def batch(i: Long): Unit = StreamState.writeBatch(
      Seq((i, s"row $i"), (i + 100, s"row ${i + 100}")).toDF("id", "payload"),
      path, i)
    def rows(): Seq[(Long, String)] = spark.read.parquet(path)
      .select($"id", $"payload").as[(Long, String)].collect().toSeq.sorted
    batch(0); batch(1)
    StreamState.compact(spark, path, Seq("id"))
    batch(2)
    StreamState.compact(spark, path, Seq("id"))
    batch(3)
    val before = rows()
    assert(before.size == 8)
    FailingRenameFileSystem.refusing((src, dst) =>
        dst.getName == "batch_id=-1" && src.getName.endsWith("_compacting")) {
      intercept[java.io.IOException](StreamState.compact(spark, path, Seq("id")))
    }
    assert(rows() == before)
    // the next compaction completes over the same state
    StreamState.compact(spark, path, Seq("id"))
    assert(rows() == before)
  }

  test("folded directories left behind by a crash after the landing are " +
      "deleted by the next compaction, not folded twice") {
    val dir = tempDir("ss_stale").toString
    val path = s"$dir/table"
    def batch(i: Long): Unit = StreamState.writeBatch(
      Seq((i, s"row $i")).toDF("id", "payload"), path, i)
    def rows(): Seq[Long] = spark.read.parquet(path).select($"id")
      .as[Long].collect().toSeq.sorted
    batch(0); batch(1); batch(2)
    StreamState.compact(spark, path, Seq("id"))
    assert(rows() == Seq(0L, 1L, 2L))
    // the crash window: the snapshot landed, the folded dirs survived
    batch(0); batch(1)
    assert(rows() == Seq(0L, 0L, 1L, 1L, 2L))
    batch(3)
    StreamState.compact(spark, path, Seq("id"))
    assert(rows() == Seq(0L, 1L, 2L, 3L))
  }
}
