package graft.streaming


import graft.SparkSpec
import graft.multimodal.{AudioSamples, FlacCodec, ImagePixels}

/** Streaming perceptual media dedup: stored-index drops across waves,
  * keep path for undecodable payloads, replay stability, and the same
  * runner over the audio hash frame. */
class StreamImageDedupSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(ids: Seq[Long], w: Int, h: Int, fmt: String,
                      shift: Int = 0, off: Long = 0L, trunc: Int = -1) =
    ImagePixels.fixtureFrame(ids.toDF("id"), "id", w, h, fmt, shift, off,
      trunc)

  test("a re-encoded resized clone drops against the STORED index, fresh " +
      "patterns and corrupt payloads are kept, replay is a no-op") {
    val dir = tempDir("img_dedup").toString
    val src = s"$dir/landing"
    val schema = fixture(Seq(1L), 36, 32, "png").schema
    def run(): Long = StreamMediaDedup.runAvailableNow(spark, src, schema,
      "media_id", "payload", s"$dir/state", s"$dir/ckpt",
      ImagePixels.dhashFrame, "dhash")
    // wave 1: four originals
    StreamWaves.stage(src, Seq(fixture(Seq(0L, 1L, 2L, 3L), 72, 64, "png")))
    assert(run() == 1L)
    def accepted(): Set[Long] = spark.read
      .parquet(s"$dir/state/accepted").select($"media_id")
      .as[Long].collect().toSet
    assert(accepted() == Set(0L, 1L, 2L, 3L))
    // wave 2: clones of 0 and 2 (resized BMP re-encode, brightness
    // shift — hamming 0 by construction), one fresh pattern, one
    // truncated payload
    StreamWaves.stage(src, Seq(
      fixture(Seq(0L, 2L), 144, 128, "bmp", shift = 3, off = 100L)
      .unionByName(fixture(Seq(7L), 72, 64, "png", off = 200L))
      .unionByName(fixture(Seq(0L), 36, 32, "png", off = 999L, trunc = 10))))
    assert(run() == 1L)
    assert(accepted() == Set(0L, 1L, 2L, 3L, 207L, 999L))
    // the index holds only decodable accepted hashes
    val indexed = spark.read.parquet(s"$dir/state/hashes")
      .select($"media_id").as[Long].collect().toSet
    assert(indexed == Set(0L, 1L, 2L, 3L, 207L))
    // replay with no new files: nothing changes
    assert(run() == 0L)
    assert(accepted() == Set(0L, 1L, 2L, 3L, 207L, 999L))
  }

  test("a clone arriving in the SAME wave as nothing it matches is kept " +
      "(within-batch pairs deliberately not compared) and caught on the " +
      "NEXT wave probe") {
    val dir = tempDir("img_dedup2").toString
    val src = s"$dir/landing"
    val schema = fixture(Seq(1L), 36, 32, "png").schema
    def run(): Long = StreamMediaDedup.runAvailableNow(spark, src, schema,
      "media_id", "payload", s"$dir/state", s"$dir/ckpt",
      ImagePixels.dhashFrame, "dhash")
    // original + its clone land TOGETHER: both accepted (cross-batch
    // semantics), like StreamNearDup
    StreamWaves.stage(src, Seq(fixture(Seq(5L), 72, 64, "png")
      .unionByName(fixture(Seq(5L), 144, 128, "bmp", shift = 2, off = 50L))))
    assert(run() == 1L)
    val a1 = spark.read.parquet(s"$dir/state/accepted")
      .select($"media_id").as[Long].collect().toSet
    assert(a1 == Set(5L, 55L))
    // a third copy next wave drops against BOTH stored hashes
    StreamWaves.stage(src, Seq(fixture(Seq(5L), 72, 64, "bmp", off = 90L)))
    assert(run() == 1L)
    val a2 = spark.read.parquet(s"$dir/state/accepted")
      .select($"media_id").as[Long].collect().toSet
    assert(a2 == Set(5L, 55L))
  }

  test("over the audio hash frame, a FLAC re-encode of an accepted WAV " +
      "drops against the stored index; a fresh recording is kept") {
    val dir = tempDir("audio_dedup").toString
    val src = s"$dir/landing"
    val n = 65 * 60
    val wavs = AudioSamples.fixtureFrameDepth(Seq(1L, 2L).toDF("id"), "id",
      n, 44100, "pcm16")
    def run(): Long = StreamMediaDedup.runAvailableNow(spark, src,
      wavs.schema, "media_id", "payload", s"$dir/state", s"$dir/ckpt",
      AudioSamples.audioHashFrameAny, "ahash")
    def accepted(): Set[Long] = spark.read
      .parquet(s"$dir/state/accepted").select($"media_id")
      .as[Long].collect().toSet
    StreamWaves.stage(src, Seq(wavs))
    assert(run() == 1L)
    assert(accepted() == Set(1L, 2L))
    // wave 2: recording 1 re-encoded as FLAC, one fresh WAV
    StreamWaves.stage(src, Seq(
      FlacCodec.fixtureFrame(Seq(1L).toDF("id"), "id", n, 44100,
        idOffset = 100L)
      .unionByName(AudioSamples.fixtureFrameDepth(Seq(3L).toDF("id"), "id",
        n, 44100, "pcm16", idOffset = 200L))))
    assert(run() == 1L)
    assert(accepted() == Set(1L, 2L, 203L))
  }
}
