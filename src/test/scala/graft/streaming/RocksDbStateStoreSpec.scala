package graft.streaming


import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Output equivalence of every keyed-state streaming family under the
  * RocksDB state store provider.
  *
  * Why this matters at 100 TB: the default HDFSBackedStateStoreProvider
  * holds each partition's ENTIRE keyed state as an in-memory hash map —
  * an executor-memory cliff once per-key state × key cardinality
  * outgrows the heap. `RocksDBStateStoreProvider` (bundled with Spark,
  * rocksdbjni on the classpath) keeps working state on local disk with
  * a block-cache budget, which is the documented deployment config for
  * the `flatMapGroupsWithState` (streaming as-of join) /
  * `dropDuplicatesWithinWatermark` / `session_window` operators here
  * (README deployment notes). These tests pin that switching providers
  * changes WHERE state lives, never WHAT the operators answer. */
class RocksDbStateStoreSpec extends SparkSpec {
  import spark.implicits._

  private val rocksProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` under the given provider, restoring the session default
    * after (the provider bakes into each query's checkpoint at start). */
  private def withProvider[T](provider: Option[String])(body: => T): T = {
    val prev = spark.conf.getOption(providerKey)
    provider.fold(spark.conf.unset(providerKey))(
      spark.conf.set(providerKey, _))
    try body
    finally prev.fold(spark.conf.unset(providerKey))(
      spark.conf.set(providerKey, _))
  }

  private def bothProviders(label: String)(run: => DataFrame): Unit = {
    val default = withProvider(None)(run).localCheckpoint()
    val rocks = withProvider(Some(rocksProvider))(run).localCheckpoint()
    assert(default.exceptAll(rocks).isEmpty && rocks.exceptAll(default).isEmpty,
      s"$label: RocksDB state store changed the answer")
    assert(default.count() > 0, s"$label: fixture produced no rows")
  }

  test("streaming as-of join answers identically on RocksDB") {
    bothProviders("streamAsof") {
      val dir = tempDir("rocks_asof").toString
      val src = s"$dir/landing"
      def row(k: Long, sec: Long, side: String, v: Double) =
        (k, new java.sql.Timestamp(sec * 1000L), side, v)
      val wave = Seq(row(1L, 100, "r", 10.0), row(1L, 150, "l", 1.0),
        row(1L, 200, "r", 20.0), row(1L, 250, "l", 2.0),
        row(2L, 120, "l", 3.0)).toDF("key", "ts", "side", "value")
      val sentinels = Seq(row(-1L, 100000, "r", 0.0),
        row(-1L, 200000, "r", 0.0))
      StreamWaves.stage(src, Seq(wave,
        Seq(sentinels.head).toDF("key", "ts", "side", "value"),
        Seq(sentinels(1)).toDF("key", "ts", "side", "value")))
      StreamState.drain(StreamAsof.asofJoin(
          StreamWaves.reader(spark, wave.schema, src)
            .as[StreamAsof.AsofInput]
            .withWatermark("ts", "60 seconds")).toDF(), s"$dir/ckpt",
        statePartitions = 2)(_.format("parquet")
          .option("path", s"$dir/sink").outputMode("append"))
      spark.read.parquet(s"$dir/sink").filter($"key" >= 0)
        .select($"key", $"left_value", $"right_value")
    }
  }

  test("dropDuplicatesWithinWatermark dedup answers identically on " +
      "RocksDB") {
    bothProviders("streamDedup") {
      val dir = tempDir("rocks_dedup").toString
      val src = s"$dir/landing"
      val rows = (1L to 30L).map(i => (i, s"text ${i % 10}"))
        .toDF("doc_id", "text")
        .withColumn("ts", to_timestamp(lit("2026-01-01 00:00:00")))
      StreamWaves.stage(src, Seq(rows.filter($"doc_id" <= 15),
        rows.filter($"doc_id" > 15)))
      StreamState.drain(StreamDedup.dedupByFingerprint(
          StreamWaves.reader(spark, rows.schema, src),
          "ts", "text", watermarkDelay = "30 days"), s"$dir/ckpt",
        statePartitions = 2)(_.format("parquet").option("path", s"$dir/sink"))
      spark.read.parquet(s"$dir/sink").select($"doc_id")
    }
  }

  test("session_window aggregation answers identically on RocksDB") {
    bothProviders("sessionWindow") {
      val dir = tempDir("rocks_sess").toString
      val src = s"$dir/landing"
      def at(u: Long, t: String, v: String) =
        (u, java.sql.Timestamp.valueOf(t), new java.math.BigDecimal(v))
      val rows = Seq(at(1L, "2024-01-01 00:00:00", "1.00"),
          at(1L, "2024-01-01 00:10:00", "2.00"),
          at(2L, "2024-01-01 03:00:00", "3.00"),
          at(-1L, "2030-01-01 00:00:00", "0.00"),
          at(-1L, "2030-06-01 00:00:00", "0.00"))
        .toDF("user_id", "ts", "value")
      StreamWaves.stage(src, Seq(rows.filter($"user_id" > 0),
        rows.filter($"user_id" < 0 && year($"ts") === 2030 &&
          month($"ts") === 1),
        rows.filter($"user_id" < 0 && month($"ts") === 6)))
      StreamState.drain(Sessionize.sessionsStream(
          StreamWaves.reader(spark, rows.schema, src)
            .withWatermark("ts", "60 seconds"),
          "user_id", "ts", "30 minutes", col("value")), s"$dir/ckpt",
        statePartitions = 2)(_.format("parquet")
          .option("path", s"$dir/sink").outputMode("append"))
      spark.read.parquet(s"$dir/sink").filter($"user_id" > 0)
        .select($"user_id", $"n_events",
          $"total_value".cast("double").as("total_value"))
    }
  }

  test("watermarked stream-stream interval join answers identically on " +
      "RocksDB") {
    bothProviders("streamIntervalJoin") {
      val dir = tempDir("rocks_sij").toString
      val a = Seq((1L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
          (2L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:30:00")),
          (3L, 200L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00")))
        .toDF("a_id", "user_id", "a_start")
      val b = Seq((7L, 100L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00")),
          (8L, 200L, java.sql.Timestamp.valueOf("2024-01-01 01:20:00")))
        .toDF("b_id", "b_user_id", "b_start")
      StreamWaves.stage(s"$dir/a", Seq(a))
      StreamWaves.stage(s"$dir/b", Seq(b))
      StreamIntervalJoin.runAvailableNow(
        spark, s"$dir/a", s"$dir/b", a.schema, b.schema,
        aLenSec = 3600L, bLenSec = 1800L, delay = "1 hour",
        outDir = s"$dir/out", checkpointPath = s"$dir/ckpt")
      spark.read.parquet(s"$dir/out")
    }
  }
}
