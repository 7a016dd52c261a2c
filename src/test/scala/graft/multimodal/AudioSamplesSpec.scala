package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** WAV PCM16 decode + energy-envelope fingerprint: exact bit
  * semantics, decode keep paths, clone invariances, exhaustive pair
  * recount. */
class AudioSamplesSpec extends SparkSpec {
  import spark.implicits._

  test("decodePcm16 parses rate/channels/samples exactly and mono-mixes " +
      "stereo by exact channel sum") {
    val mono = AudioSamples.wavPayload(3L, 130, 8000)
    val Some((rate, ch, samples)) = AudioSamples.decodePcm16(mono)
    assert(rate == 8000 && ch == 1 && samples.length == 130)
    // the rendered square wave alternates +amp/-amp on the window grid
    val amp0 = AudioSamples.envelopeAmp(3L, 0)
    assert(samples(0) == amp0 && samples(1) == -amp0)
    val stereo = AudioSamples.wavPayload(3L, 130, 8000, channels = 2)
    val Some((_, ch2, s2)) = AudioSamples.decodePcm16(stereo)
    assert(ch2 == 2 && s2.length == 130 && s2(0) == 2 * amp0)
  }

  test("decode keep path: truncated, non-RIFF, and short payloads are " +
      "None; audioHashFrame keeps them as null rows") {
    val wav = AudioSamples.wavPayload(1L, 130, 8000)
    assert(AudioSamples.decodePcm16(wav.take(20)).isEmpty)
    assert(AudioSamples.decodePcm16("not audio at all not audio at all"
      .getBytes ++ new Array[Byte](20)).isEmpty)
    assert(AudioSamples.decodePcm16(null).isEmpty)
    val rows = Seq((1L, wav), (2L, wav.take(20))).toDF("media_id", "payload")
    val got = AudioSamples.audioHashFrame(rows, "media_id", "payload")
      .orderBy($"media_id")
      .select($"media_id", $"ahash".isNull, $"sample_rate")
      .as[(Long, Boolean, Option[Int])].collect().toSeq
    assert(got == Seq((1L, false, Some(8000)), (2L, true, None)))
  }

  test("fingerprint bits follow strict rising-energy comparisons; " +
      "monotone envelopes saturate the hash") {
    // strictly rising amplitudes -> every bit set
    val n = 65 * 2
    val up = Array.tabulate(n)(i => (i / 2 + 1) * (if (i % 2 == 0) 1 else -1))
    assert(AudioSamples.audioHash64(up) == -1L)
    val flat = Array.fill(n)(7)
    assert(AudioSamples.audioHash64(flat) == 0L)
  }

  test("clone invariances: gain shift, 65-aligned length scaling, rate " +
      "relabel, and stereo re-encode all reproduce the hash exactly") {
    (0L until 24L).foreach { seed =>
      val orig = AudioSamples.audioHashOf(
        AudioSamples.wavPayload(seed, 65 * 60, 44100)).get
      val clone = AudioSamples.audioHashOf(AudioSamples.wavPayload(
        seed, 65 * 120, 22050, channels = 2, gainShift = 1)).get
      assert(orig == clone, s"seed $seed")
    }
  }

  test("distinct seeds separate far beyond the pairing fence") {
    val hs = (0L until 24L).map(s => AudioSamples.audioHashOf(
      AudioSamples.wavPayload(s, 65 * 60, 44100)).get)
    val minDist = (for {
      i <- hs.indices; j <- hs.indices if i < j
    } yield java.lang.Long.bitCount(hs(i) ^ hs(j))).min
    assert(minDist > 8, s"cross-seed min hamming $minDist too small")
  }

  test("q288's near-dup composition equals the exhaustive driver recount " +
      "on a planted clone corpus and drops only undecodable rows") {
    val ids = (0L until 24L).toDF("id")
    val media = AudioSamples.fixtureFrame(ids, "id", 65 * 60, 44100)
      .unionByName(AudioSamples.fixtureFrame(
        ids.filter($"id" % 3 === 0), "id", 65 * 120, 22050, channels = 2,
        gainShift = 1, idOffset = 100000L))
      .unionByName(AudioSamples.fixtureFrame(ids.filter($"id" === 0),
        "id", 65 * 2, 8000, idOffset = 999999L, truncateTo = 20))
    // the pairing q288 runs: fingerprint, drop undecodable rows, then the
    // pigeonhole join over eight 8-bit chunks
    val got = graft.functions.Dedup.simhashNearDups(
        AudioSamples.audioHashFrame(media, "media_id", "payload")
          .filter($"ahash".isNotNull),
        "media_id", "ahash", maxDist = 4, numChunks = 8, chunkBits = 8,
        simBits = 64)
      .as[(Long, Long, Int)].collect().toSet
    val hs = ((0L until 24L).map(s => s -> AudioSamples.audioHashOf(
        AudioSamples.wavPayload(s, 65 * 60, 44100)).get)
      ++ (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
        AudioSamples.audioHashOf(AudioSamples.wavPayload(s, 65 * 120,
          22050, channels = 2, gainShift = 1)).get))
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 4
    } yield (a, b, d)).toSet
    assert(got == want)
    assert(want.size == 8)
    assert(want.forall { case (a, b, d) => b - a == 100000L && d == 0 })
  }

  test("cross-format collapse: the same quantized signal re-encoded at " +
      "every supported depth — plain or extensible header — hashes " +
      "identically, and the PCM16 depth agrees with the legacy decoder") {
    (0L until 6L).foreach { seed =>
      val base = AudioSamples.audioHashOfAny(
        AudioSamples.wavPayloadDepth(seed, 65 * 60, 44100, "pcm16")).get
      // legacy PCM16 decoder sees the identical samples
      assert(AudioSamples.audioHashOf(
        AudioSamples.wavPayloadDepth(seed, 65 * 60, 44100, "pcm16"))
        .contains(base), s"seed $seed: legacy/any drift")
      for (fmt <- Seq("pcm8", "pcm24", "pcm32", "f32", "f64");
           ext <- Seq(false, true)) {
        val got = AudioSamples.audioHashOfAny(AudioSamples.wavPayloadDepth(
          seed, 65 * 60, 44100, fmt, extensible = ext))
        assert(got.contains(base), s"seed $seed fmt $fmt ext $ext")
      }
      // stereo + half-rate re-encodes collapse too (channel-sum and
      // window-aligned-resample invariances carry over)
      assert(AudioSamples.audioHashOfAny(AudioSamples.wavPayloadDepth(
        seed, 65 * 30, 22050, "pcm24", channels = 2, extensible = true))
        .contains(base), s"seed $seed stereo half-rate")
    }
  }

  test("cross-format separation and keep paths: distinct seeds stay far; " +
      "truncated, empty, and non-finite-float payloads are undecodable") {
    val hs = (0L until 24L).map(s => AudioSamples.audioHashOfAny(
      AudioSamples.wavPayloadDepth(s, 65 * 60, 44100, "pcm24")).get)
    val minDist = (for {
      i <- hs.indices; j <- hs.indices if i < j
    } yield java.lang.Long.bitCount(hs(i) ^ hs(j))).min
    assert(minDist > 8, s"cross-seed min hamming $minDist too small")
    assert(AudioSamples.decodeWav(AudioSamples.wavPayloadDepth(
      1L, 65 * 2, 8000, "pcm32", truncateTo = 30)).isEmpty)
    assert(AudioSamples.decodeWav(null).isEmpty)
    // a float WAV carrying NaN is adversarial input, not a crash
    val nanWav = AudioSamples.wavPayloadDepth(1L, 65, 8000, "f32")
    val bb = java.nio.ByteBuffer.wrap(nanWav)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.putFloat(44 + 8, Float.NaN)
    assert(AudioSamples.decodeWav(nanWav).isEmpty)
    // fmt surfaces per row; undecodables keep as null rows
    val frame = AudioSamples.audioHashFrameAny(
      Seq((1L, AudioSamples.wavPayloadDepth(5L, 65 * 60, 44100, "pcm8")),
        (2L, nanWav)).toDF("media_id", "payload"), "media_id", "payload")
      .collect().sortBy(_.getLong(0))
    assert(frame(0).getString(4) == "pcm8" && frame(1).isNullAt(1))
  }

  test("G.711 telephony WAVs decode through the exact segment formulas: " +
      "ulaw/alaw expansion matches hand-computed table values and both " +
      "formats hash through the any-format frame") {
    // hand-checked G.711 anchor points
    assert(AudioSamples.ulawExpand(0xFF) == 0)       // +0
    assert(AudioSamples.ulawExpand(0x7F) == 0)       // -0
    assert(AudioSamples.ulawExpand(0xFE) == 8)       // smallest +step
    assert(AudioSamples.ulawExpand(0x80) == 32124)   // positive max
    assert(AudioSamples.ulawExpand(0x00) == -32124)  // negative max
    assert(AudioSamples.alawExpand(0x55) == -8)      // code^0x55 = 0
    assert(AudioSamples.alawExpand(0xD5) == 8)
    assert(AudioSamples.alawExpand(0x2A) == -32256)  // negative max
    assert(AudioSamples.alawExpand(0xAA) == 32256)   // positive max
    def g711Wav(tag: Int, codes: Array[Int], rate: Int): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44 + codes.length)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + codes.length)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(tag.toShort).putShort(1).putInt(rate)
        .putInt(rate).putShort(1).putShort(8)
      bb.put("data".getBytes("US-ASCII")).putInt(codes.length)
      codes.foreach(c => bb.put(c.toByte))
      bb.array()
    }
    // a 130-code µ-law payload: decode surfaces fmt + the expansions
    val codes = Array.tabulate(130)(i => (i * 7) % 256)
    val Some((rate, ch, fmt, samples)) =
      AudioSamples.decodeWav(g711Wav(7, codes, 8000))
    assert(rate == 8000 && ch == 1 && fmt == "ulaw")
    assert(samples.toSeq ==
      codes.map(c => AudioSamples.ulawExpand(c).toLong).toSeq)
    val Some((_, _, fmtA, samplesA)) =
      AudioSamples.decodeWav(g711Wav(6, codes, 8000))
    assert(fmtA == "alaw")
    assert(samplesA.toSeq ==
      codes.map(c => AudioSamples.alawExpand(c).toLong).toSeq)
    // and both hash (decodable, stable) through the dispatch frame
    val rows = AudioSamples.audioHashFrameAny(
      Seq((1L, g711Wav(7, codes, 8000)), (2L, g711Wav(6, codes, 8000)))
        .toDF("media_id", "payload"), "media_id", "payload")
      .collect().sortBy(_.getLong(0))
    assert(rows.forall(!_.isNullAt(1)))
    assert(rows(0).getString(4) == "ulaw" && rows(1).getString(4) == "alaw")
  }

  test("adversarial chunk sizes terminate: a size field whose padded " +
      "advance is zero or overruns the payload returns None, never spins") {
    def wavWithChunkSize(size: Long): Array[Byte] = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
        .put("WAVE".getBytes("US-ASCII"))
      // one junk chunk with the adversarial size field
      bb.put("JUNK".getBytes("US-ASCII")).putInt(size.toInt)
      bb.put(new Array[Byte](24))
      bb.array()
    }
    // 0xFFFFFFF8 and 0xFFFFFFF7: 8 + size + pad wraps to exactly 0 —
    // pre-fix these spun the chunk walk forever (ADVICE r18)
    for (size <- Seq(0xFFFFFFF8L, 0xFFFFFFF7L, 0xFFFFFFFFL, 0x7FFFFFFFL)) {
      val fut = scala.concurrent.Future(
        AudioSamples.decodePcm16(wavWithChunkSize(size)))(
        scala.concurrent.ExecutionContext.global)
      val got = scala.concurrent.Await.result(fut,
        scala.concurrent.duration.Duration(10, "s"))
      assert(got.isEmpty, s"size $size")
    }
    // a plausible size that simply overruns the remaining bytes also
    // rejects (corruption, not a hang source)
    assert(AudioSamples.decodePcm16(wavWithChunkSize(1000L)).isEmpty)
  }

  test("a structurally valid WAV with an empty data chunk is " +
      "undecodable — the keep path, never a poison-pill throw") {
    // wavPayload(0 samples) is a legal RIFF with dataLen = 0
    val empty = {
      val bb = java.nio.ByteBuffer.allocate(44)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36)
        .put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(1).putInt(44100).putInt(88200)
        .putShort(2).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(0)
      bb.array()
    }
    assert(AudioSamples.decodePcm16(empty).isEmpty)
    // and through the frame: a null-hash KEEP row, not a task failure
    val rows = AudioSamples.audioHashFrame(
      Seq((1L, empty)).toDF("media_id", "payload"), "media_id", "payload")
      .collect()
    assert(rows.length == 1 && rows(0).isNullAt(1))
  }
}
