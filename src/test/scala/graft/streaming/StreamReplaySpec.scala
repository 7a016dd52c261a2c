package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Replay safety for the streaming families whose correctness gates
  * drain all waves in ONE AvailableNow lifecycle (the gate pins values;
  * THIS spec pins that a restarted drain with no new files is a no-op —
  * the exactly-once half the gates used to re-prove with a fourth
  * lifecycle each bench run). Each test: stage waves, drain, snapshot
  * the standing answer, drain again against the same checkpoint with
  * nothing new, and require the answer byte-identical. */
class StreamReplaySpec extends SparkSpec {
  import spark.implicits._

  private def unchanged(label: String, before: DataFrame,
                        after: DataFrame): Unit = {
    assert(before.exceptAll(after).isEmpty && after.exceptAll(before).isEmpty,
      s"$label: a no-data replay changed the standing answer")
  }

  test("StreamBitmap: a no-data restart appends no words") {
    val dir = tempDir("sbr").toString
    val src = s"$dir/landing"
    val rows = (1L to 40L).map(i => (s"t${i % 3}", i)).toDF("g", "v")
    def run(): Long = StreamState.maintain(graft.functions.Bitmap.bitmaps(
        StreamWaves.reader(spark, rows.schema, src), "g", "v"),
      s"$dir/sink", s"$dir/ckpt")
    def currentBitmap = StreamState.latest(spark.read.parquet(s"$dir/sink"),
      Seq("g", "bucket"))
    StreamWaves.stage(src, Seq(rows.filter($"v" <= 20), rows.filter($"v" > 20)))
    assert(run() == 2L)
    val before = currentBitmap.localCheckpoint()
    val sinkRows = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/sink").count() == sinkRows,
      "StreamBitmap: replay appended sink rows")
    unchanged("StreamBitmap", before, currentBitmap)
  }

  test("StreamComponents: a no-data restart leaves the assignment") {
    val dir = tempDir("scr").toString
    val src = s"$dir/landing"
    val edges = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    def run(): Long = StreamComponents.runAvailableNow(
      spark, src, edges.schema, "a", "b", s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(edges, Seq((3L, 10L)).toDF("a", "b")))
    assert(run() == 2L)
    val before = StreamComponents.currentAssignment(spark, s"$dir/sink")
      .localCheckpoint()
    assert(run() == 0L)
    unchanged("StreamComponents", before,
      StreamComponents.currentAssignment(spark, s"$dir/sink"))
  }

  test("StreamReservoir: a no-data restart leaves the sample") {
    val dir = tempDir("srr").toString
    val src = s"$dir/landing"
    val rows = (1L to 50L).map(i => (i, i % 7 + 1)).toDF("k", "w")
    def run(): Long = StreamReservoir.runAvailableNow(
      spark, src, rows.schema, "k", "w", 10, s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(rows.filter($"k" <= 25), rows.filter($"k" > 25)))
    assert(run() == 2L)
    val before = StreamReservoir.currentReservoir(spark, s"$dir/sink")
      .localCheckpoint()
    assert(run() == 0L)
    unchanged("StreamReservoir", before,
      StreamReservoir.currentReservoir(spark, s"$dir/sink"))
  }

  test("StreamTvd: a no-data restart appends no count increments") {
    val dir = tempDir("stv").toString
    val src = s"$dir/landing"
    val rows = (1L to 60L).map(i => (i % 2, s"e${i % 3}")).toDF("g", "c")
    def run(): Long = StreamTvd.runAvailableNow(
      spark, src, rows.schema, "g", "c", s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(rows.limit(30), rows.orderBy($"c".desc).limit(30)))
    assert(run() == 2L)
    val before = spark.read.parquet(s"$dir/sink").localCheckpoint()
    assert(run() == 0L)
    unchanged("StreamTvd", before, spark.read.parquet(s"$dir/sink"))
  }

  test("StreamIntervalJoin: a no-data restart emits no pairs (inner " +
      "and left_outer)") {
    Seq("inner", "left_outer").foreach { jt =>
      val dir = tempDir(s"sij_$jt").toString
      val a = Seq((1L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
          (2L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")),
          (3L, 200L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
        .toDF("a_id", "user_id", "a_start")
      val b = Seq((7L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
          (8L, 300L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00")))
        .toDF("b_id", "b_user_id", "b_start")
      def run(): Long = StreamIntervalJoin.runAvailableNow(
        spark, s"$dir/a", s"$dir/b", a.schema, b.schema,
        aLenSec = 3600L, bLenSec = 1800L, delay = "1 hour",
        outDir = s"$dir/out", checkpointPath = s"$dir/ckpt", joinType = jt)
      StreamWaves.stage(s"$dir/a", Seq(a))
      StreamWaves.stage(s"$dir/b", Seq(b))
      assert(run() == 1L)
      val before = spark.read.parquet(s"$dir/out").localCheckpoint()
      assert(run() == 0L)
      unchanged(s"StreamIntervalJoin($jt)", before,
        spark.read.parquet(s"$dir/out"))
    }
  }

  test("TarShards stream export: a no-data restart ships nothing twice") {
    val dir = tempDir("tsr").toString
    val src = s"$dir/landing"
    val rows = (1L to 20L)
      .map(i => (i, s"payload $i".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    def run(): Long = graft.multimodal.TarShards.streamExportAvailableNow(
      spark, src, rows.schema, "doc_id", "payload", s"$dir/shards",
      s"$dir/ckpt", shardBytes = 4096L)
    StreamWaves.stage(src, Seq(rows.filter($"doc_id" <= 10),
      rows.filter($"doc_id" > 10)))
    assert(run() == 2L)
    val before = graft.multimodal.TarShards
      .readTarShards(spark, s"$dir/shards/batch_id=*")
      .select($"key", md5($"payload").as("m")).localCheckpoint()
    assert(run() == 0L, "replay drained data batches")
    unchanged("TarShards", before, graft.multimodal.TarShards
      .readTarShards(spark, s"$dir/shards/batch_id=*")
      .select($"key", md5($"payload").as("m")))
    assert(before.count() == 20L)
  }

  test("native streaming dedup file sink: a no-data restart appends " +
      "no rows") {
    val dir = tempDir("sdr").toString
    val src = s"$dir/landing"
    val rows = (1L to 30L).map(i => (i, s"text ${i % 10}"))
      .toDF("doc_id", "text")
      .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
    def run(): Unit = StreamState.drain(StreamDedup.dedupByFingerprint(
        StreamWaves.reader(spark, rows.schema, src),
        "ts", "text", watermarkDelay = "30 days"), s"$dir/ckpt",
      statePartitions = 2)(_.format("parquet").option("path", s"$dir/sink"))
    StreamWaves.stage(src, Seq(rows.filter($"doc_id" <= 15),
      rows.filter($"doc_id" > 15)))
    run()
    val before = spark.read.parquet(s"$dir/sink")
      .select($"doc_id").localCheckpoint()
    run()
    unchanged("StreamDedup", before,
      spark.read.parquet(s"$dir/sink").select($"doc_id"))
    assert(before.count() == 10L) // one survivor per distinct text
  }

  test("session_window file sink: a no-data restart appends no sessions") {
    val dir = tempDir("ssr").toString
    val src = s"$dir/landing"
    def at(u: Long, t: String, v: String) =
      (u, java.sql.Timestamp.valueOf(t), new java.math.BigDecimal(v))
    val rows = Seq(at(1L, "2024-01-01 00:00:00", "1.00"),
        at(1L, "2024-01-01 00:10:00", "2.00"),
        at(2L, "2024-01-01 03:00:00", "3.00"),
        at(-1L, "2030-01-01 00:00:00", "0.00"),
        at(-1L, "2030-06-01 00:00:00", "0.00"))
      .toDF("user_id", "ts", "value")
    def run(): Unit = StreamState.drain(Sessionize.sessionsStream(
        StreamWaves.reader(spark, rows.schema, src)
          .withWatermark("ts", "60 seconds"),
        "user_id", "ts", "30 minutes", col("value")), s"$dir/ckpt",
      statePartitions = 2)(_.format("parquet").option("path", s"$dir/sink")
        .outputMode("append"))
    StreamWaves.stage(src, Seq(rows.filter($"user_id" > 0),
      rows.filter($"user_id" < 0 && year($"ts") === 2030 &&
        month($"ts") === 1),
      rows.filter($"user_id" < 0 && month($"ts") === 6)))
    run()
    val before = spark.read.parquet(s"$dir/sink")
      .filter($"user_id" > 0).select($"user_id", $"n_events")
      .localCheckpoint()
    run()
    unchanged("Sessionize", before, spark.read.parquet(s"$dir/sink")
      .filter($"user_id" > 0).select($"user_id", $"n_events"))
    assert(before.count() == 2L) // user 1 one merged session, user 2 one
  }
}
