package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming near-dup against the persisted standing band index: wave-2
  * clones must be dropped via the STORED state (wave-1 text is gone from
  * the stream), survivors extend the index, and a no-data replay leaves
  * the accepted set unchanged. */
class StreamNearDupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "abcdefghijklmnopqrstuvwxyz0123456789 "
  private def doc(seed: Int): String =
    (0 until 40).map(i => base((seed * 7 + i * 13) % base.length)).mkString +
      base + base.reverse

  test("wave-2 near-dups of wave-1 docs are dropped via the stored index") {
    val dir = tempDir("snd").toString
    val src = s"$dir/landing"
    val schema = Seq((1L, "x")).toDF("id", "text").schema
    def run(): Long = StreamNearDup.runAvailableNow(
      spark, src, schema, "id", "text", s"$dir/state", s"$dir/ckpt")

    val wave1 = (1L to 5L).map(i => (i, doc(i.toInt))).toDF("id", "text")
    StreamWaves.stage(src, Seq(wave1))
    assert(run() == 1L)
    // every wave-1 doc accepted (empty index), state dirs populated
    assert(spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet == (1L to 5L).toSet)
    assert(spark.read.parquet(s"$dir/state/bands").count() > 0)
    assert(spark.read.parquet(s"$dir/state/shingles").count() > 0)

    // wave 2: ids 11-12 are EXACT CLONES of 1-2 (must collide with the
    // stored bands and verify at jaccard 1.0); id 13 is a fresh doc
    val wave2 = Seq((11L, doc(1)), (12L, doc(2)), (13L, doc(99)))
      .toDF("id", "text")
    StreamWaves.stage(src, Seq(wave2))
    assert(run() == 1L)
    val accepted = spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet
    assert(accepted == (1L to 5L).toSet + 13L,
      s"clones must be dropped via the stored index, got $accepted")

    // the fresh doc's state joined the index (wave-3 clone of it drops)
    StreamWaves.stage(src, Seq(Seq((21L, doc(99))).toDF("id", "text")))
    assert(run() == 1L)
    assert(spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet == (1L to 5L).toSet + 13L)

    // replay with no new files: accepted set unchanged
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet == (1L to 5L).toSet + 13L)
  }

  test("no cache residue outlives a run") {
    val dir = tempDir("snd2").toString
    val schema = Seq((1L, "x")).toDF("id", "text").schema
    StreamWaves.stage(s"$dir/landing", Seq(Seq((1L, doc(3))).toDF("id", "text")))
    assert(StreamNearDup.runAvailableNow(
      spark, s"$dir/landing", schema, "id", "text",
      s"$dir/state", s"$dir/ckpt") == 1L)
    assert(spark.sharedState.cacheManager.isEmpty)
  }
}
