package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MP3 FRAME-WALK identity — the audio format a crawl yields most that
  * [[AudioSamples]] cannot sample-decode (full MPEG audio decode
  * dependency-free is a poor effort/return trade). Identity instead rides the
  * complete frame walk: skip the ID3v2 tag (synchsafe size, optional
  * footer), walk every MPEG frame by its header-derived length, and
  * hash the FRAME BYTES — headers and payloads, tags excluded. The
  * practically-universal duplicate class this catches is the RE-TAGGED
  * copy: the same encode under different ID3v2/ID3v1 metadata (title
  * edits, cover art, tag-version rewrites) collides exactly, while any
  * re-encode differs in the first frame. Metadata out: frame count,
  * exact integer duration (frames × samples-per-frame × 1000 / rate),
  * CBR/VBR flag from the bitrate-index set.
  *
  * Strict walk, keep-path result: the walk must land exactly on EOF or
  * on a trailing ID3v1 `TAG` block — truncated final frames, mid-stream
  * garbage, free-format (index 0) and reserved header fields all parse
  * to None (telemetry rows, never a throw; the [[Mp4Boxes]]
  * discipline). Layer III only (MPEG1/2/2.5) — "MP3" proper.
  *
  * Scale shape: parse per partition on the codec seam; dedup is an
  * exact equi-join on the fingerprint column. */
object Mp3Frames {

  final case class Meta(version: Int, sampleRate: Int, channels: Int,
                        nFrames: Int, frameBytes: Long, cbr: Boolean,
                        streamFp: Long) {
    def durationMs: Long = {
      val spf = if (version == 3) 1152L else 576L
      if (sampleRate <= 0) 0L else nFrames * spf * 1000L / sampleRate
    }
  }

  private val maxFrames = 1 << 22 // ~12 h at 26 ms/frame

  // bitrate tables, kbps, Layer III; index 0 = free format (unsupported),
  // index 15 = reserved
  private val v1Rates =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val v2Rates =
    Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)
  private val srTables = Map(
    3 -> Array(44100, 48000, 32000),
    2 -> Array(22050, 24000, 16000),
    0 -> Array(11025, 12000, 8000))

  private val fnvOffset = 0xcbf29ce484222325L
  private val fnvPrime = 0x100000001b3L

  /** Header-derived frame length in bytes, or -1 when the header is not
    * a valid Layer III frame start. */
  private[multimodal] def frameLength(b: Array[Byte], i: Int): Int = {
    def u8(j: Int): Int = b(j) & 0xFF
    if (i + 4 > b.length) return -1
    if (u8(i) != 0xFF || (u8(i + 1) & 0xE0) != 0xE0) return -1
    val version = (u8(i + 1) >> 3) & 0x3
    val layer = (u8(i + 1) >> 1) & 0x3
    if (version == 1 || layer != 1) return -1 // reserved / not Layer III
    val brIdx = (u8(i + 2) >> 4) & 0xF
    val srIdx = (u8(i + 2) >> 2) & 0x3
    if (brIdx == 0 || brIdx == 15 || srIdx == 3) return -1
    val rate = srTables(version)(srIdx)
    val kbps = (if (version == 3) v1Rates else v2Rates)(brIdx)
    val coef = if (version == 3) 144 else 72
    val padding = (u8(i + 2) >> 1) & 0x1
    coef * kbps * 1000 / rate + padding
  }

  /** Parse the whole stream; None for anything that is not a clean
    * tag-wrapped Layer III frame sequence. */
  def parse(b: Array[Byte]): Option[Meta] = {
    if (b == null || b.length < 4) return None
    def u8(j: Int): Int = b(j) & 0xFF
    var i = 0
    if (b.length >= 10 && b(0) == 'I' && b(1) == 'D' && b(2) == '3') {
      val footer = (u8(5) & 0x10) != 0
      i = 10 + ((u8(6) << 21) | (u8(7) << 14) | (u8(8) << 7) | u8(9)) +
        (if (footer) 10 else 0)
      if (i >= b.length) return None
    }
    // trailing ID3v1 block, if present, bounds the frame region
    val end =
      if (b.length - i >= 132 && b(b.length - 128) == 'T' &&
        b(b.length - 127) == 'A' && b(b.length - 126) == 'G')
        b.length - 128
      else b.length
    var version = -1
    var rate = 0
    var channels = 0
    var nFrames = 0
    var hash = fnvOffset
    val brSeen = scala.collection.mutable.Set.empty[Int]
    val start = i
    while (i < end) {
      val len = frameLength(b, i)
      if (len < 0 || i + len > end) return None // garbage or truncation
      val v = (u8(i + 1) >> 3) & 0x3
      val sr = srTables(v)((u8(i + 2) >> 2) & 0x3)
      val ch = if (((u8(i + 3) >> 6) & 0x3) == 3) 1 else 2
      // version/sample-rate switches reject (they change frame timing);
      // channel MODE is legal to vary mid-stream (e.g. stereo/joint-stereo
      // per frame at the same layout), so Meta.channels reports the FIRST
      // frame's mode as surfaced metadata — identity rides frame bytes
      if (nFrames == 0) { version = v; rate = sr; channels = ch }
      else if (v != version || sr != rate) return None // mid-stream switch
      brSeen += (u8(i + 2) >> 4) & 0xF
      nFrames += 1
      if (nFrames > maxFrames) return None
      var j = i
      while (j < i + len) { hash = (hash ^ u8(j)) * fnvPrime; j += 1 }
      i += len
    }
    if (nFrames == 0) None
    else Some(Meta(version, rate, channels, nFrames, (i - start).toLong,
      cbr = brSeen.size == 1, streamFp = hash))
  }

  /** `(idCol, stream_fp, n_frames, duration_ms, sample_rate, channels,
    * cbr)` per payload row — nulls for unparsable payloads (KEPT). */
  def mp3Frame(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("stream_fp", LongType),
      StructField("n_frames", IntegerType),
      StructField("duration_ms", LongType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("cbr", BooleanType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        parse(r.getAs[Array[Byte]](1)) match {
          case Some(m) => Row(r.getLong(0), m.streamFp, m.nFrames,
            m.durationMs, m.sampleRate, m.channels, m.cbr)
          case None => Row(r.getLong(0), null, null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // --- Fixture writer -------------------------------------------------

  /** One deterministic MPEG1 Layer III 44.1 kHz stereo frame sequence
    * (128 kbps, alternating padding — a real 44.1 kHz CBR stream pads
    * periodically) with seed-keyed payload bytes. */
  private def frames(seed: Long, nFrames: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    var f = 0
    while (f < nFrames) {
      val padding = f % 3 match { case 0 => 1; case _ => 0 }
      val len = 144 * 128000 / 44100 + padding // 417 / 418
      out.write(0xFF); out.write(0xFB) // MPEG1 Layer III, no CRC
      out.write(0x90 | (padding << 1)) // 128 kbps, 44100, padding bit
      out.write(0x00) // stereo
      var j = 4
      while (j < len) {
        out.write(((seed * 31 + f.toLong * 131 + j * 7) % 251).toInt)
        j += 1
      }
      f += 1
    }
    out.toByteArray
  }

  private def id3v2(tagSeed: Long): Array[Byte] = {
    val body = s"TIT2-title-$tagSeed-${"x" * (tagSeed % 7).toInt}"
      .getBytes("US-ASCII")
    val n = body.length
    Array[Byte]('I', 'D', '3', 4, 0, 0,
      ((n >> 21) & 0x7F).toByte, ((n >> 14) & 0x7F).toByte,
      ((n >> 7) & 0x7F).toByte, (n & 0x7F).toByte) ++ body
  }

  private def id3v1(tagSeed: Long): Array[Byte] = {
    val t = new Array[Byte](128)
    t(0) = 'T'; t(1) = 'A'; t(2) = 'G'
    val title = s"track $tagSeed".getBytes("US-ASCII")
    System.arraycopy(title, 0, t, 3, math.min(title.length, 30))
    t
  }

  /** A complete fixture file: ID3v2 + frames + ID3v1. `retagSeed`
    * changes ONLY the tags (the re-tagged-copy duplicate class);
    * `truncateTo` cuts mid-frame for the keep path. */
  def mp3Payload(seed: Long, nFrames: Int = 24, retagSeed: Long = 0L,
                 truncateTo: Int = -1): Array[Byte] = {
    val out = id3v2(seed * 1000 + retagSeed) ++ frames(seed, nFrames) ++
      id3v1(seed * 1000 + retagSeed)
    if (truncateTo >= 0) out.take(truncateTo) else out
  }

  /** `(media_id, payload)` fixture frame on the executors, 24 frames
    * per payload. */
  def fixtureFrame(ids: DataFrame, idCol: String,
                   retagSeed: Long = 0L, idOffset: Long = 0L,
                   truncateTo: Int = -1): DataFrame = {
    val spark = ids.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = ids.select(col(idCol)).rdd.map { r =>
      val seed = r.getLong(0)
      Row(seed + idOffset,
        mp3Payload(seed, 24, retagSeed, truncateTo))
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
