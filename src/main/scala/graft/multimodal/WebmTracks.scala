package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Matroska/WebM (EBML) TRACK-level identity — [[Mp4Boxes]]'s sibling
  * for the other container real crawl video arrives in. Identity rides
  * what a re-mux preserves: the per-track codec id, CodecPrivate bytes,
  * and the concatenated FRAME PAYLOADS in stream order. A re-mux
  * rewrites cluster segmentation, block timestamps, LACING (frames
  * regrouped into laced blocks), TimestampScale, SeekHead/Cues/Void
  * padding — none of which touch the codec frames — so re-muxed copies
  * of one stream collide exactly while different encodes separate on
  * the first frame. All three Matroska lacing modes (Xiph, fixed-size,
  * EBML) de-lace to the same per-frame payloads the unlaced form
  * carries.
  *
  * Parse per ISO spec shape: EBML elements are `[id varint][size
  * varint][payload]`; only the containers the walk needs are recursed
  * (Segment → Info/Tracks/Cluster → TrackEntry/BlockGroup); unknown
  * elements skip by size, which is what makes the walk re-mux-stable.
  * An unknown-size Segment (live-streamed WebM) extends to EOF; unknown
  * size anywhere else, truncation, varint overruns, or a block naming
  * an undeclared track all take the null keep path behind element and
  * frame fences — never a throw ([[Mp4Boxes]] discipline).
  *
  * Scale shape: parse per partition on the codec seam; dedup is an
  * exact equi-join on the fingerprint column. */
object WebmTracks {

  final case class Track(number: Long, trackType: Int, codecId: String,
                         codecPrivateHash: Long, nFrames: Long,
                         frameBytes: Long, payloadHash: Long)

  final case class Meta(timestampScale: Long, durationMs: Long,
                        tracks: Seq[Track])

  private val maxElements = 1 << 16
  private val fnvOffset = 0xcbf29ce484222325L
  private val fnvPrime = 0x100000001b3L

  private def fnvBytes(h0: Long, b: Array[Byte], from: Int, until: Int): Long = {
    var h = h0
    var i = from
    while (i < until) { h = (h ^ (b(i) & 0xFF)) * fnvPrime; i += 1 }
    h
  }

  private def fnvLong(h0: Long, v: Long): Long = {
    var h = h0
    var i = 0
    while (i < 8) { h = (h ^ ((v >>> (i * 8)) & 0xFF)) * fnvPrime; i += 1 }
    h
  }

  /** Container-independent stream identity: FNV over each track's
    * (codec id, CodecPrivate hash, frame count, frame bytes, payload
    * hash), ordered by track number. */
  def streamFingerprint(m: Meta): Long =
    m.tracks.sortBy(_.number)
      .foldLeft(fnvLong(fnvOffset, m.tracks.size.toLong)) { (h, t) =>
        fnvLong(fnvLong(fnvLong(fnvLong(fnvBytes(fnvLong(h, t.trackType.toLong),
          t.codecId.getBytes("US-ASCII"), 0, t.codecId.length),
          t.codecPrivateHash), t.nFrames), t.frameBytes), t.payloadHash)
      }

  // --- EBML primitives ------------------------------------------------

  /** (value, widthBytes) of the varint at `i` with marker bits KEPT —
    * element IDs compare against full-id constants. (-1, _) on
    * malformation. */
  private def readId(b: Array[Byte], i: Int): (Long, Int) = {
    if (i >= b.length) return (-1L, 0)
    val first = b(i) & 0xFF
    val w = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (w < 1 || w > 4 || i + w > b.length) return (-1L, 0)
    var v = first.toLong
    var j = 1
    while (j < w) { v = (v << 8) | (b(i + j) & 0xFF); j += 1 }
    (v, w)
  }

  /** (value, widthBytes) of the size varint at `i`, marker stripped;
    * value -2 = "unknown size" (all data bits set); -1 = malformed. */
  private def readSize(b: Array[Byte], i: Int): (Long, Int) = {
    if (i >= b.length) return (-1L, 0)
    val first = b(i) & 0xFF
    val w = Integer.numberOfLeadingZeros(first) - 24 + 1
    if (w < 1 || w > 8 || i + w > b.length) return (-1L, 0)
    var v = (first & (0xFF >>> w)).toLong
    var j = 1
    while (j < w) { v = (v << 8) | (b(i + j) & 0xFF); j += 1 }
    val allOnes = (1L << (7 * w)) - 1
    (if (v == allOnes) -2L else v, w)
  }

  private def readUint(b: Array[Byte], from: Int, until: Int): Long = {
    var v = 0L
    var i = from
    while (i < until) { v = (v << 8) | (b(i) & 0xFF); i += 1 }
    v
  }

  private def readFloat(b: Array[Byte], from: Int, until: Int): Double =
    (until - from) match {
      case 4 => java.lang.Float.intBitsToFloat(readUint(b, from, until).toInt)
        .toDouble
      case 8 => java.lang.Double.longBitsToDouble(readUint(b, from, until))
      case 0 => 0.0
      case _ => Double.NaN
    }

  // element ids
  private val EBML = 0x1A45DFA3L
  private[multimodal] val SEGMENT = 0x18538067L
  private val INFO = 0x1549A966L
  private val TIMESTAMP_SCALE = 0x2AD7B1L
  private val DURATION = 0x4489L
  private val TRACKS = 0x1654AE6BL
  private val TRACK_ENTRY = 0xAEL
  private val TRACK_NUMBER = 0xD7L
  private val TRACK_TYPE = 0x83L
  private val CODEC_ID = 0x86L
  private val CODEC_PRIVATE = 0x63A2L
  private[multimodal] val CLUSTER = 0x1F43B675L
  private[multimodal] val SIMPLE_BLOCK = 0xA3L
  private val BLOCK_GROUP = 0xA0L
  private val BLOCK = 0xA1L

  private final class TrackAcc(val number: Long) {
    var trackType: Int = -1
    var codecId: String = null
    var codecPrivateHash: Long = fnvOffset
    var nFrames = 0L
    var frameBytes = 0L
    var payloadHash: Long = fnvOffset
  }

  /** Parse the container; None for anything that is not a well-formed
    * Matroska/WebM with an EBML header, a Segment, and at least one
    * declared track. */
  def parse(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 8) return None
    var elements = 0
    var timestampScale = 1000000L
    var durationTicks = 0.0
    val tracks = scala.collection.mutable.LinkedHashMap.empty[Long, TrackAcc]

    /** Walk children of [from, until); `f` returns false to poison the
      * whole parse. */
    def walk(from: Int, until: Int)(f: (Long, Int, Int) => Boolean): Boolean = {
      var i = from
      while (i < until) {
        elements += 1
        if (elements > maxElements) return false
        val (id, iw) = readId(bytes, i)
        if (id < 0) return false
        val (sz, sw) = readSize(bytes, i + iw)
        if (sw == 0 || sz == -1L) return false
        val start = i + iw + sw
        val end =
          if (sz == -2L) {
            // unknown size: tolerated for Segment only (streamed WebM)
            if (id != SEGMENT) return false
            until
          } else {
            if (sz > until - start) return false
            start + sz.toInt
          }
        if (!f(id, start, end)) return false
        i = end
      }
      true
    }

    /** De-lace one (Simple)Block payload into per-frame slices credited
      * to its track. Returns false on malformation. */
    def block(start: Int, end: Int): Boolean = {
      var i = start
      // track number is an EBML varint VALUE (marker stripped)
      val (tnRaw, tw) = readSize(bytes, i)
      if (tw == 0 || tnRaw < 0) return false
      i += tw
      if (i + 3 > end) return false
      i += 2 // int16 relative timecode: not identity
      val flags = bytes(i) & 0xFF
      i += 1
      val acc = tracks.getOrElse(tnRaw, return false)
      val lacing = (flags >> 1) & 0x3
      val sizes: Seq[Int] = lacing match {
        case 0 => Seq(end - i) // no lacing: one frame
        case _ =>
          if (i >= end) return false
          val nFrames = (bytes(i) & 0xFF) + 1
          i += 1
          lacing match {
            case 2 => // fixed-size
              val total = end - i
              if (total % nFrames != 0) return false
              Seq.fill(nFrames)(total / nFrames)
            case 1 => // Xiph: 255-run sizes for all but the last frame
              val out = new Array[Int](nFrames)
              var k = 0
              while (k < nFrames - 1) {
                var sz = 0
                var cont = true
                while (cont) {
                  if (i >= end) return false
                  val v = bytes(i) & 0xFF
                  i += 1
                  sz += v
                  cont = v == 255
                }
                out(k) = sz
                k += 1
              }
              out(nFrames - 1) = end - i - out.take(nFrames - 1).sum
              if (out.last < 0) return false
              out.toSeq
            case 3 => // EBML: first absolute, then signed-varint deltas
              val out = new Array[Int](nFrames)
              if (nFrames == 1) {
                // Matroska encodes nFrames−1 lace sizes, so a single-frame
                // EBML-laced block carries ZERO size fields — the whole
                // remainder is the frame (the Xiph branch's n=1 shape);
                // reading a size varint here would hash the wrong span
                out(0) = end - i
              } else {
                val (first, fw) = readSize(bytes, i)
                if (fw == 0 || first < 0) return false
                i += fw
                out(0) = first.toInt
                var k = 1
                while (k < nFrames - 1) {
                  val (raw, w) = readSize(bytes, i)
                  if (w == 0 || raw < 0) return false
                  i += w
                  val delta = raw - ((1L << (7 * w - 1)) - 1)
                  out(k) = out(k - 1) + delta.toInt
                  if (out(k) < 0) return false
                  k += 1
                }
                out(nFrames - 1) = end - i - out.take(nFrames - 1).sum
                if (out(nFrames - 1) < 0) return false
              }
              out.toSeq
          }
      }
      if (sizes.sum != end - i) return false
      sizes.foreach { sz =>
        acc.payloadHash = fnvBytes(acc.payloadHash, bytes, i, i + sz)
        acc.nFrames += 1
        acc.frameBytes += sz
        i += sz
      }
      true
    }

    var sawEbml = false
    var sawSegment = false
    val ok = walk(0, bytes.length) {
      case (EBML, _, _) => sawEbml = true; true
      case (SEGMENT, ss, se) =>
        if (!sawEbml) false
        else {
          sawSegment = true
          walk(ss, se) {
            case (INFO, is, ie) => walk(is, ie) {
              case (TIMESTAMP_SCALE, s, e) =>
                timestampScale = readUint(bytes, s, e); timestampScale > 0
              case (DURATION, s, e) =>
                durationTicks = readFloat(bytes, s, e)
                !durationTicks.isNaN
              case _ => true
            }
            case (TRACKS, ts, te) => walk(ts, te) {
              case (TRACK_ENTRY, es, ee) =>
                var acc: TrackAcc = null
                var num = -1L
                val entryOk = walk(es, ee) {
                  case (TRACK_NUMBER, s, e) =>
                    num = readUint(bytes, s, e)
                    if (num <= 0 || tracks.contains(num)) false
                    else { acc = new TrackAcc(num); tracks(num) = acc; true }
                  case (TRACK_TYPE, s, e) =>
                    if (acc == null) false
                    else { acc.trackType = readUint(bytes, s, e).toInt; true }
                  case (CODEC_ID, s, e) =>
                    if (acc == null) false
                    else { acc.codecId = new String(bytes, s, e - s,
                      "US-ASCII"); true }
                  case (CODEC_PRIVATE, s, e) =>
                    if (acc == null) false
                    else { acc.codecPrivateHash =
                      fnvBytes(fnvOffset, bytes, s, e); true }
                  case _ => true
                }
                entryOk && acc != null && acc.codecId != null
              case _ => true
            }
            case (CLUSTER, cs, ce) => walk(cs, ce) {
              case (SIMPLE_BLOCK, s, e) => block(s, e)
              case (BLOCK_GROUP, gs, ge) => walk(gs, ge) {
                case (BLOCK, s, e) => block(s, e)
                case _ => true
              }
              case _ => true // Timestamp, Void, ...
            }
            case _ => true // SeekHead, Cues, Tags, Void, ...
          }
        }
      case _ => true
    }
    if (!ok || !sawSegment || tracks.isEmpty) None
    else Some(Meta(timestampScale,
      math.round(durationTicks * timestampScale / 1e6),
      tracks.values.map(a => Track(a.number, a.trackType, a.codecId,
        a.codecPrivateHash, a.nFrames, a.frameBytes, a.payloadHash)).toSeq))
  }

  /** `(idCol, stream_fp, n_tracks, duration_ms, codecs)` per payload
    * row — nulls for unparsable payloads (rows KEPT). */
  def webmFrame(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("stream_fp", LongType),
      StructField("n_tracks", IntegerType),
      StructField("duration_ms", LongType),
      StructField("codecs", StringType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        parse(r.getAs[Array[Byte]](1)) match {
          case Some(m) => Row(r.getLong(0), streamFingerprint(m),
            m.tracks.size, m.durationMs,
            m.tracks.sortBy(_.number).map(_.codecId).mkString(","))
          case None => Row(r.getLong(0), null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // --- Fixture writer -------------------------------------------------

  private def idBytes(id: Long): Array[Byte] = {
    val w = if (id <= 0xFFL) 1 else if (id <= 0xFFFFL) 2
            else if (id <= 0xFFFFFFL) 3 else 4
    (0 until w).reverseIterator
      .map(j => ((id >> (8 * j)) & 0xFF).toByte).toArray
  }

  private[multimodal] def sizeBytes(v: Long): Array[Byte] = {
    var w = 1
    while (w <= 8 && v >= (1L << (7 * w)) - 1) w += 1
    val marked = v | (1L << (7 * w))
    (0 until w).reverseIterator
      .map(j => ((marked >> (8 * j)) & 0xFF).toByte).toArray
  }

  private[multimodal] def el(id: Long, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    idBytes(id) ++ sizeBytes(body.length.toLong) ++ body
  }

  private[multimodal] def uintEl(id: Long, v: Long): Array[Byte] = {
    var w = 1
    while (w < 8 && (v >>> (8 * w)) != 0) w += 1
    el(id, (0 until w).reverseIterator
      .map(j => ((v >> (8 * j)) & 0xFF).toByte).toArray)
  }

  /** Deterministic per-seed frames for a (video, audio) track pair. */
  def fixtureFrames(seed: Long, nFrames: Int): (Seq[Array[Byte]], Seq[Array[Byte]]) = (
    (0 until nFrames).map(f => Array.tabulate[Byte](120 + (f % 5) * 10)(
      j => ((seed * 31 + f.toLong * 131 + j * 7) % 251).toByte)),
    (0 until nFrames).map(f => Array.tabulate[Byte](40 + (f % 3) * 5)(
      j => ((seed * 13 + f.toLong * 37 + j * 11) % 241).toByte)))

  /** A spec-shaped two-track WebM. `remux = true` rewrites ONLY
    * container decisions: one big cluster instead of many, Xiph-laced
    * audio blocks instead of one block per frame, a doubled
    * TimestampScale with the Duration float rescaled to the identical
    * wall time, and a trailing Void pad — the frames are untouched. The
    * segment lasts 10 s. */
  def webmPayload(seed: Long, nFrames: Int = 12,
                  remux: Boolean = false, truncateTo: Int = -1)
      : Array[Byte] = {
    val (vid, aud) = fixtureFrames(seed, nFrames)
    val scale = if (remux) 2000000L else 1000000L
    val (header, info, tracksEl) = containerParts(seed, 10, scale)
    def xiphBlock(track: Long, frames: Seq[Array[Byte]]): Array[Byte] = {
      val laceSizes = frames.init.flatMap { f =>
        val full = f.length / 255
        Array.fill[Byte](full)(0xFF.toByte) :+ (f.length % 255).toByte
      }.toArray
      el(SIMPLE_BLOCK, sizeBytes(track),
        Array[Byte](0, 0, 0x82.toByte), // keyframe + Xiph lacing (01)
        Array(((frames.size - 1) & 0xFF).toByte), laceSizes,
        frames.flatten.toArray)
    }
    val body: Array[Byte] =
      if (!remux) {
        // one cluster per frame pair, unlaced blocks
        (0 until nFrames).flatMap(f =>
          el(CLUSTER, uintEl(0xE7L, f.toLong * 100L),
            simpleBlock(1L, vid(f)), simpleBlock(2L, aud(f)))).toArray
      } else {
        // ONE cluster: all video frames unlaced, audio Xiph-laced in
        // halves, plus a Void pad — same frames, new framing
        val half = nFrames / 2
        el(CLUSTER, uintEl(0xE7L, 0L),
          vid.flatMap(simpleBlock(1L, _)).toArray,
          xiphBlock(2L, aud.take(half)),
          xiphBlock(2L, aud.drop(half))) ++
          el(0xECL, Array.fill[Byte](32)(0)) // Void
      }
    val out = header ++ el(SEGMENT, info, tracksEl, body)
    if (truncateTo >= 0) out.take(truncateTo) else out
  }

  /** Shared fixture container assembly: EBML header, segment Info at
    * `scale`, and the two-track Tracks element. */
  private[multimodal] def containerParts(seed: Long, durationSec: Int, scale: Long)
      : (Array[Byte], Array[Byte], Array[Byte]) = {
    val durTicks = durationSec * 1000.0 * 1000000.0 / scale
    val header = el(EBML, Array.emptyByteArray)
    val info = el(INFO, uintEl(TIMESTAMP_SCALE, scale),
      el(DURATION, {
        val bits = java.lang.Double.doubleToLongBits(durTicks)
        (0 until 8).reverseIterator
          .map(j => ((bits >> (8 * j)) & 0xFF).toByte).toArray
      }))
    def entry(num: Long, tpe: Int, codec: String, priv: Array[Byte]) =
      el(TRACK_ENTRY, uintEl(TRACK_NUMBER, num), uintEl(TRACK_TYPE, tpe),
        el(CODEC_ID, codec.getBytes("US-ASCII")),
        el(CODEC_PRIVATE, priv))
    val tracksEl = el(TRACKS,
      entry(1L, 1, "V_VP9", Array.tabulate[Byte](16)(j =>
        ((seed + j) % 97).toByte)),
      entry(2L, 2, "A_OPUS", Array.tabulate[Byte](8)(j =>
        ((seed * 3 + j) % 89).toByte)))
    (header, info, tracksEl)
  }

  private[multimodal] def simpleBlock(track: Long, frame: Array[Byte]): Array[Byte] =
    el(SIMPLE_BLOCK, sizeBytes(track),
      Array[Byte](0, 0, 0x80.toByte), frame) // timecode 0, keyframe

  /** `(media_id, payload)` fixture frame on the executors, 12 frames
    * per track. */
  def fixtureFrame(ids: DataFrame, idCol: String,
                   remux: Boolean = false, idOffset: Long = 0L,
                   truncateTo: Int = -1): DataFrame = {
    val spark = ids.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("payload", BinaryType)))
    val rdd = ids.select(col(idCol)).rdd.map { r =>
      val seed = r.getLong(0)
      Row(seed + idOffset,
        webmPayload(seed, 12, remux = remux, truncateTo = truncateTo))
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
