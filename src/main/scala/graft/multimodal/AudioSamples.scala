package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL sample-level audio operators — the [[ImagePixels]] discipline
  * for sound: a dependency-free WAV PCM16 decoder (RIFF chunk walk →
  * raw samples, mono-mixed by exact channel SUM) and a 64-bit
  * energy-envelope fingerprint for perceptual audio dedup — the audio
  * analog of dHash: the same recording re-encoded at another gain,
  * duplicated-sample upsampled, or re-labeled at another sample rate
  * must collide; different recordings must not.
  *
  * The fingerprint is EXACT integer arithmetic end to end: the sample
  * stream splits into 65 equal windows, each window's energy is the
  * Long sum of |sample|, and bit i is set where
  * `E(i)/len(i) < E(i+1)/len(i+1)` decided by cross-multiplication —
  * no division, no floats, bit-reproducible on any JVM. Global gain
  * scaling multiplies every energy by the same factor and cancels in
  * every comparison; window-aligned resampling scales every (E, len)
  * pair uniformly — both invariances are BY CONSTRUCTION, not tuned.
  *
  * Undecodable payloads (truncated, not RIFF, compressed codecs)
  * return None — the keep path. Scale shape: decode + hash run per partition
  * ([[Multimodal.decodePartitions]] contract); pairing reuses the
  * SimHash chunk-pigeonhole join. */
object AudioSamples {

  /** Sample-count fence keeping every cross-multiplied comparison
    * (energy × length) exact in Long. */
  val maxSamples: Long = 1L << 29

  /** Decode a WAV PCM16 payload: (sampleRate, channels, mono-mixed
    * samples — per frame the exact SUM over channels). None on
    * anything unparseable/truncated/non-PCM16. */
  def decodePcm16(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b == null || b.length < 44) return None
    def u8(i: Int): Int = b(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def s16(i: Int): Int = (le16(i) << 16) >> 16
    def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    def ascii(i: Int, n: Int): String =
      if (b.length >= i + n) new String(b.slice(i, i + n), "US-ASCII") else ""
    if (ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE") return None
    var i = 12
    var rate = 0
    var channels = 0
    var bits = 0
    var pcm = false
    var dataOff = -1
    var dataLen = 0L
    while (i + 8 <= b.length && (rate == 0 || dataOff < 0)) {
      val id = ascii(i, 4)
      val size = le32(i + 4)
      // A size field larger than the bytes that remain is corruption
      // (or an adversarial 0xFFFFFFF8-style value whose padded advance
      // wraps to 0 and spins the chunk walk forever) — bail, never
      // advance by a non-positive step.
      if (size > b.length.toLong - i - 8) return None
      if (id == "fmt " && i + 24 <= b.length) {
        pcm = le16(i + 8) == 1
        channels = le16(i + 10)
        rate = le32(i + 12).toInt
        bits = le16(i + 22)
      }
      if (id == "data") { dataOff = i + 8; dataLen = size }
      val advance = 8 + size.toInt + (size.toInt & 1)
      if (advance <= 0) return None
      i += advance
    }
    if (!pcm || bits != 16 || channels < 1 || rate <= 0 || dataOff < 0 ||
      dataOff + dataLen > b.length) return None
    val frameBytes = 2 * channels
    val nFrames = (dataLen / frameBytes).toInt
    // A structurally valid WAV with an EMPTY data chunk has nothing to
    // fingerprint — undecodable (keep path), never a downstream throw.
    if (nFrames < 1 || nFrames.toLong > maxSamples) return None
    val out = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      var c = 0
      var acc = 0
      while (c < channels) {
        acc += s16(dataOff + f * frameBytes + 2 * c)
        c += 1
      }
      out(f) = acc
      f += 1
    }
    Some((rate, channels, out))
  }

  /** Exact `a*b < c*d` for NON-NEGATIVE longs via 128-bit products
    * (`Math.multiplyHigh`) — the raw 64-bit cross-multiply can wrap
    * (float-format WAVs clamp samples to ±32.0 → canonical magnitude up
    * to 2^20, so near the 2^29-sample fence the envelope-sum ×
    * window-len product reaches ~7e19 > Long.MaxValue) and silently
    * flip envelope bits on hot signals. */
  private[multimodal] def crossLt(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 < hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) < 0
  }

  /** 64-bit energy-envelope fingerprint over mono-mixed samples: 65
    * equal windows, bit i set where mean |energy| strictly rises from
    * window i to i + 1 (cross-multiplied — exact). */
  def audioHash64(samples: Array[Int]): Long = {
    val n = samples.length
    require(n >= 1, "audioHash64: need at least one sample")
    require(n.toLong <= maxSamples,
      s"audioHash64: $n samples exceeds the $maxSamples exactness fence")
    val e = new Array[Long](65)
    val len = new Array[Long](65)
    var w = 0
    while (w < 65) {
      val x0 = (w.toLong * n / 65).toInt
      val x1 = math.max(x0 + 1, ((w + 1).toLong * n / 65).toInt)
      var s = 0L
      var x = x0
      while (x < math.min(x1, n)) { s += math.abs(samples(x).toLong); x += 1 }
      e(w) = s
      len(w) = math.max(1, math.min(x1, n) - x0)
      w += 1
    }
    var hash = 0L
    w = 0
    while (w < 64) {
      if (crossLt(e(w), len(w + 1), e(w + 1), len(w))) hash |= 1L << w
      w += 1
    }
    hash
  }

  /** Decode-then-hash; None when the payload doesn't decode. */
  def audioHashOf(bytes: Array[Byte]): Option[Long] =
    decodePcm16(bytes).map { case (_, _, samples) => audioHash64(samples) }

  // --- Cross-format decode (PCM8/16/24/32 + IEEE-float WAV) -------------
  // All RIFF variants normalize to ONE canonical 16-bit integer sample
  // domain, so the scale-invariant envelope fingerprint collapses the
  // same signal across bit depths: PCM8 shifts up (<<8 — exact), PCM24/
  // 32 shift down (arithmetic >>8 / >>16 — deterministic truncation),
  // float quantizes by rint(f · 2^15) (exact for any float that was
  // produced FROM an integer sample, ≤ half-LSB rounding otherwise).
  // A fresh decoder rather than flags on decodePcm16: the PCM16 path is
  // the q288 oracle's literal source and stays byte-identical.

  /** Decoded WAV in the canonical domain: sample rate, channel count,
    * source format tag ("pcm8" | "pcm16" | "pcm24" | "pcm32" | "f32" |
    * "f64" | "ulaw" | "alaw" — the last two are G.711 telephony WAVs,
    * expanded through the exact integer segment formulas), and
    * mono-mixed samples (exact channel SUM, Long). None on anything
    * unparseable, truncated, empty, non-finite-float, or past the
    * exactness fence. */
  def decodeWav(b: Array[Byte]): Option[(Int, Int, String, Array[Long])] = {
    if (b == null || b.length < 44) return None
    def u8(i: Int): Int = b(i) & 0xFF
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def s16(i: Int): Int = (le16(i) << 16) >> 16
    def le32(i: Int): Long =
      (u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)).toLong |
        (u8(i + 3).toLong << 24)
    def s24(i: Int): Int =
      ((u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16)) << 8) >> 8
    def s32(i: Int): Int = le32(i).toInt
    def ascii(i: Int, n: Int): String =
      if (b.length >= i + n) new String(b.slice(i, i + n), "US-ASCII") else ""
    if (ascii(0, 4) != "RIFF" || ascii(8, 4) != "WAVE") return None
    var i = 12
    var rate = 0
    var channels = 0
    var bits = 0
    var fmtTag = 0
    var dataOff = -1
    var dataLen = 0L
    while (i + 8 <= b.length && (rate == 0 || dataOff < 0)) {
      val id = ascii(i, 4)
      val size = le32(i + 4)
      if (size > b.length.toLong - i - 8) return None
      if (id == "fmt " && i + 24 <= b.length) {
        fmtTag = le16(i + 8)
        channels = le16(i + 10)
        rate = le32(i + 12).toInt
        bits = le16(i + 22)
        // WAVE_FORMAT_EXTENSIBLE: the real format code is the leading
        // 16 bits of the SubFormat GUID after cbSize + validBits + mask
        if (fmtTag == 0xFFFE && i + 34 + 2 <= b.length && size >= 40)
          fmtTag = le16(i + 32)
      }
      if (id == "data") { dataOff = i + 8; dataLen = size }
      val advance = 8 + size.toInt + (size.toInt & 1)
      if (advance <= 0) return None
      i += advance
    }
    val fmt = (fmtTag, bits) match {
      case (1, 8)  => "pcm8"
      case (1, 16) => "pcm16"
      case (1, 24) => "pcm24"
      case (1, 32) => "pcm32"
      case (3, 32) => "f32"
      case (3, 64) => "f64"
      case (6, 8)  => "alaw" // G.711 — the telephony WAV formats
      case (7, 8)  => "ulaw"
      case _       => return None
    }
    if (channels < 1 || rate <= 0 || dataOff < 0 ||
      dataOff + dataLen > b.length) return None
    val bytesPer = bits / 8
    val frameBytes = bytesPer * channels
    val nFrames = (dataLen / frameBytes).toInt
    // fence scales with the mono-mix amplitude: channels multiply the
    // canonical-domain magnitude, so frames × channels stays bounded
    if (nFrames < 1 || nFrames.toLong * channels > maxSamples) return None
    val out = new Array[Long](nFrames)
    var f = 0
    while (f < nFrames) {
      var c = 0
      var acc = 0L
      while (c < channels) {
        val o = dataOff + f * frameBytes + bytesPer * c
        acc += (fmt match {
          case "pcm8"  => (u8(o) - 128).toLong << 8
          case "pcm16" => s16(o).toLong
          case "pcm24" => (s24(o) >> 8).toLong
          case "pcm32" => (s32(o) >> 16).toLong
          case "ulaw"  => ulawExpand(u8(o)).toLong
          case "alaw"  => alawExpand(u8(o)).toLong
          case "f32" =>
            val v = java.lang.Float.intBitsToFloat(s32(o))
            if (java.lang.Float.isNaN(v) || java.lang.Float.isInfinite(v))
              return None
            math.rint(math.max(-32.0, math.min(32.0, v.toDouble)) *
              32768.0).toLong
          case "f64" =>
            val v = java.lang.Double.longBitsToDouble(
              le32(o) | (le32(o + 4) << 32))
            if (java.lang.Double.isNaN(v) || java.lang.Double.isInfinite(v))
              return None
            math.rint(math.max(-32.0, math.min(32.0, v)) * 32768.0).toLong
        })
        c += 1
      }
      out(f) = acc
      f += 1
    }
    Some((rate, channels, fmt, out))
  }

  /** G.711 µ-law expansion to the linear 16-bit domain (the classic
    * CCITT segment/mantissa formula; output is the standard 14-bit
    * linear magnitude ≤ 8031 — a pure scaling the envelope hash is
    * invariant to). */
  def ulawExpand(u0: Int): Int = {
    val u = ~u0 & 0xFF
    var t = ((u & 0x0F) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law expansion to the linear 16-bit domain (13-bit linear
    * magnitude ≤ 4032·2, the standard table values). */
  def alawExpand(a0: Int): Int = {
    val a = a0 ^ 0x55
    var t = (a & 0x0F) << 4
    val seg = (a & 0x70) >> 4
    if (seg == 0) t += 8
    else if (seg == 1) t += 0x108
    else { t += 0x108; t <<= seg - 1 }
    if ((a & 0x80) != 0) t else -t
  }

  /** [[audioHash64]] on canonical-domain Long samples (same 65-window
    * exact cross-multiplied envelope). */
  def audioHash64L(samples: Array[Long]): Long = {
    val n = samples.length
    require(n >= 1, "audioHash64L: need at least one sample")
    require(n.toLong <= maxSamples,
      s"audioHash64L: $n samples exceeds the $maxSamples exactness fence")
    val e = new Array[Long](65)
    val len = new Array[Long](65)
    var w = 0
    while (w < 65) {
      val x0 = (w.toLong * n / 65).toInt
      val x1 = math.max(x0 + 1, ((w + 1).toLong * n / 65).toInt)
      var s = 0L
      var x = x0
      while (x < math.min(x1, n)) { s += math.abs(samples(x)); x += 1 }
      e(w) = s
      len(w) = math.max(1, math.min(x1, n) - x0)
      w += 1
    }
    var hash = 0L
    w = 0
    while (w < 64) {
      if (crossLt(e(w), len(w + 1), e(w + 1), len(w))) hash |= 1L << w
      w += 1
    }
    hash
  }

  /** Codec dispatch: RIFF/WAVE variants via [[decodeWav]], FLAC via
    * [[FlacCodec.decode]] — ONE canonical sample domain either way, so
    * the fingerprint collapses a recording across CODECS, not just
    * across bit depths. */
  def decodeAudio(b: Array[Byte]): Option[(Int, Int, String, Array[Long])] =
    if (b != null && b.length >= 4 && b(0) == 'f' && b(1) == 'L' &&
      b(2) == 'a' && b(3) == 'C')
      FlacCodec.decode(b).map { case (r, c, s) => (r, c, "flac", s) }
    else decodeWav(b)

  /** Cross-format decode-then-hash (any WAV variant or FLAC); None
    * when the payload doesn't decode. A PCM16 payload hashes
    * IDENTICALLY to [[audioHashOf]] (same samples, same envelope). */
  def audioHashOfAny(bytes: Array[Byte]): Option[Long] =
    decodeAudio(bytes).map { case (_, _, _, samples) =>
      audioHash64L(samples) }

  /** `(idCol, ahash, sample_rate, n_samples, fmt)` per payload row
    * across ALL supported WAV variants AND FLAC — nulls for
    * undecodable payloads (rows KEPT). */
  def audioHashFrameAny(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("ahash", LongType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", IntegerType),
      StructField("fmt", StringType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        decodeAudio(r.getAs[Array[Byte]](1)) match {
          case Some((rate, _, fmt, samples)) =>
            Row(r.getLong(0), audioHash64L(samples), rate, samples.length,
              fmt)
          case None => Row(r.getLong(0), null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** `(idCol, ahash, sample_rate, n_samples)` per payload row —
    * nulls for undecodable payloads (rows KEPT). */
  def audioHashFrame(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("ahash", LongType),
      StructField("sample_rate", IntegerType),
      StructField("n_samples", IntegerType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        decodePcm16(r.getAs[Array[Byte]](1)) match {
          case Some((rate, _, samples)) =>
            Row(r.getLong(0), audioHash64(samples), rate, samples.length)
          case None => Row(r.getLong(0), null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // --- Deterministic fixture generation --------------------------------
  // Square-wave recordings whose amplitude is piecewise-constant on the
  // SAME 65-window grid the fingerprint reads (the ImagePixels
  // patternLum discipline): a 65k-sample render reproduces the hash
  // exactly at ANY 65-aligned length, gain shift, or channel count.

  /** Pseudo-random EVEN amplitude (0..16382) for window `w` of `seed`
    * — even so a 1-bit gain shift divides every sample exactly. */
  def envelopeAmp(seed: Long, w: Int): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + w * 0xC2B2AE3D27D4EB4FL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((((z ^ (z >>> 31)) >>> 16) & 0x1FFFL) * 2).toInt
  }

  /** A complete RIFF/WAVE PCM16 payload: `nSamples` frames of an
    * alternating-sign square wave with the seed's window envelope,
    * amplitude >> `gainShift`, identical on every channel.
    * `truncateTo >= 0` keeps only that many leading bytes. */
  def wavPayload(seed: Long, nSamples: Int, sampleRate: Int,
                 channels: Int = 1, gainShift: Int = 0,
                 truncateTo: Int = -1): Array[Byte] = {
    require(nSamples % 65 == 0,
      s"wavPayload: nSamples must be 65-aligned, got $nSamples")
    val dataLen = nSamples * 2 * channels
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * 2 * channels).putShort((2 * channels).toShort)
      .putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    val win = nSamples / 65
    var i = 0
    while (i < nSamples) {
      val amp = envelopeAmp(seed, i / win) >> gainShift
      val v = (if (i % 2 == 0) amp else -amp).toShort
      var c = 0
      while (c < channels) { bb.putShort(v); c += 1 }
      i += 1
    }
    val bytes = bb.array()
    if (truncateTo >= 0) bytes.take(truncateTo) else bytes
  }

  /** The [[envelopeAmp]] envelope quantized to multiples of 256 in the
    * canonical 16-bit domain — the amplitude grid on which EVERY
    * supported depth's round trip is an exact scaling (PCM8 carries
    * amp/256, PCM24 amp·256, float amp/2^15 — all lossless), so one
    * signal re-encoded at any bit depth fingerprints IDENTICALLY. */
  def envelopeAmpQ(seed: Long, w: Int): Int = envelopeAmp(seed, w) & 0xFF00

  /** A complete RIFF/WAVE payload of the quantized square-wave signal
    * at any supported depth: `fmt` ∈ pcm8 | pcm16 | pcm24 | pcm32 |
    * f32 | f64. `extensible` wraps the format in a WAVE_FORMAT_
    * EXTENSIBLE (0xFFFE) header with the real code in the SubFormat
    * GUID — the header shape high-depth encoders actually emit. */
  def wavPayloadDepth(seed: Long, nSamples: Int, sampleRate: Int,
                      fmt: String, channels: Int = 1,
                      extensible: Boolean = false,
                      truncateTo: Int = -1): Array[Byte] = {
    require(nSamples % 65 == 0,
      s"wavPayloadDepth: nSamples must be 65-aligned, got $nSamples")
    val (tag, bits) = fmt match {
      case "pcm8"  => (1, 8)
      case "pcm16" => (1, 16)
      case "pcm24" => (1, 24)
      case "pcm32" => (1, 32)
      case "f32"   => (3, 32)
      case "f64"   => (3, 64)
      case other => throw new IllegalArgumentException(
        s"wavPayloadDepth: unsupported fmt '$other'")
    }
    val bytesPer = bits / 8
    val dataLen = nSamples * bytesPer * channels
    val fmtLen = if (extensible) 40 else 16
    val bb = java.nio.ByteBuffer.allocate(20 + fmtLen + 8 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(12 + fmtLen + 8 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(fmtLen)
      .putShort(if (extensible) 0xFFFE.toShort else tag.toShort)
      .putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * bytesPer * channels)
      .putShort((bytesPer * channels).toShort).putShort(bits.toShort)
    if (extensible) {
      bb.putShort(22).putShort(bits.toShort).putInt(0)
      // SubFormat GUID: format code ++ the fixed KSDATAFORMAT tail
      bb.putShort(tag.toShort).putShort(0)
      bb.put(Array[Byte](0x00, 0x00, 0x10, 0x00, 0x80.toByte, 0x00, 0x00,
        0xAA.toByte, 0x00, 0x38, 0x9B.toByte, 0x71))
    }
    bb.put("data".getBytes("US-ASCII")).putInt(dataLen)
    val win = nSamples / 65
    var i = 0
    while (i < nSamples) {
      val amp = envelopeAmpQ(seed, i / win)
      val v = if (i % 2 == 0) amp else -amp
      var c = 0
      while (c < channels) {
        fmt match {
          case "pcm8"  => bb.put((128 + (v >> 8)).toByte)
          case "pcm16" => bb.putShort(v.toShort)
          case "pcm24" =>
            val x = v << 8
            bb.put((x & 0xFF).toByte).put(((x >> 8) & 0xFF).toByte)
              .put(((x >> 16) & 0xFF).toByte)
          case "pcm32" => bb.putInt(v << 16)
          case "f32"   => bb.putFloat(v / 32768.0f)
          case "f64"   => bb.putDouble(v / 32768.0)
        }
        c += 1
      }
      i += 1
    }
    val bytes = bb.array()
    if (truncateTo >= 0) bytes.take(truncateTo) else bytes
  }

  /** `(media_id, payload)` fixture frame of [[wavPayloadDepth]]
    * payloads — the cross-format clone-wave generator. */
  def fixtureFrameDepth(df: DataFrame, idCol: String, nSamples: Int,
                        sampleRate: Int, fmt: String, channels: Int = 1,
                        extensible: Boolean = false, idOffset: Long = 0L,
                        truncateTo: Int = -1): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rdd = df.select(col(idCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id + idOffset, wavPayloadDepth(id, nSamples, sampleRate, fmt,
          channels, extensible, truncateTo))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** `(media_id, payload)` WAV fixture frame over an id column —
    * pattern keyed by the ORIGINAL id, media_id = id + `idOffset`
    * (the [[ImagePixels.fixtureFrame]] shape). */
  def fixtureFrame(df: DataFrame, idCol: String, nSamples: Int,
                   sampleRate: Int, channels: Int = 1, gainShift: Int = 0,
                   idOffset: Long = 0L, truncateTo: Int = -1): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rdd = df.select(col(idCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id + idOffset, wavPayload(id, nSamples, sampleRate, channels,
          gainShift, truncateTo))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
