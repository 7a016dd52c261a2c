package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ISO-BMFF (MP4/MOV) CONTAINER-level identity — the video formats a
  * real crawl actually yields (the q297 WARC door admits these bytes;
  * GIF is the only format [[VideoFrames]] pixel-decodes). Full MP4
  * sample decode is out of scope dependency-free, so identity rides the
  * box structure instead: `ftyp`/`moov`/`mvhd`/`trak`/`stbl` are walked
  * to a per-track (codec fourcc, sample count, sample-size-table hash)
  * summary. Re-muxing a stream — rewriting the container with new chunk
  * offsets (`stco`), interleaving, box order (`mdat`-first progressive
  * vs `moov`-first streaming), edit-time timescale — preserves the
  * sample size table byte for byte, so re-muxed copies of one stream
  * COLLIDE on [[streamFingerprint]] while different content separates
  * (sample sizes are the compressed frame lengths — two encodes agree
  * only by collision). Malformed/truncated boxes take the null keep
  * path, never a throw (the [[ImagePixels]] telemetry discipline).
  *
  * Layout per ISO/IEC 14496-12: a box is `[size:u32][type:4cc]` with
  * payload to `size`; `size==1` → 64-bit largesize follows; `size==0` →
  * box runs to end of file. Only container boxes the walk needs are
  * recursed (`moov`/`trak`/`mdia`/`minf`/`stbl`) — unknown boxes skip
  * by size, which is what makes the walk re-mux-stable.
  *
  * Scale shape: parse runs per partition on the
  * [[Multimodal.decodePartitions]] codec seam; downstream dedup is an
  * exact equi-join on the fingerprint column (a shuffle key, never a
  * pairwise compare).
  */
object Mp4Boxes {

  /** One media track: codec fourcc (first `stsd` entry), sample count,
    * total sample bytes, and an FNV-1a hash over the sample-size table. */
  final case class Track(codec: String, sampleCount: Long,
                         sampleBytes: Long, sizeHash: Long)

  /** Container summary: `ftyp` major brand, `mvhd` timescale/duration,
    * and the per-track summaries in file order. */
  final case class Meta(majorBrand: String, timescaleHz: Long,
                        durationTicks: Long, tracks: Seq[Track]) {
    /** Exact milliseconds when the mvhd pair divides evenly, floor
      * otherwise — container metadata, NOT part of the fingerprint. */
    def durationMs: Long =
      if (timescaleHz <= 0) 0L else durationTicks * 1000L / timescaleHz
  }

  /** Fences: an adversarial header must not make the walk allocate or
    * loop unboundedly. */
  private val maxBoxes = 1 << 14
  private val maxSampleEntries = 1L << 24

  private val fnvOffset = 0xcbf29ce484222325L
  private val fnvPrime = 0x100000001b3L

  private def fnv(h: Long, v: Long): Long = {
    var x = h
    var i = 0
    while (i < 8) { x = (x ^ ((v >>> (i * 8)) & 0xFF)) * fnvPrime; i += 1 }
    x
  }

  private def fnvStr(h: Long, s: String): Long =
    s.getBytes("US-ASCII").foldLeft(h)((a, b) => (a ^ (b & 0xFF)) * fnvPrime)

  /** Container-independent 64-bit stream identity: FNV-1a over each
    * track's (codec, sample count, sample-size-table hash, total sample
    * bytes) in track order. Timescale, duration ticks, chunk offsets,
    * box order, and padding do NOT participate — exactly the fields a
    * re-mux rewrites. */
  def streamFingerprint(m: Meta): Long =
    m.tracks.foldLeft(fnv(fnvOffset, m.tracks.size.toLong)) { (h, t) =>
      fnv(fnv(fnv(fnvStr(h, t.codec), t.sampleCount), t.sampleBytes),
        t.sizeHash)
    }

  // --- Parse ----------------------------------------------------------

  private final class Walk(b: Array[Byte]) {
    var boxes = 0
    def u32(i: Int): Long =
      ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
        ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)
    def u64(i: Int): Long = (u32(i) << 32) | u32(i + 4)
    def fourcc(i: Int): String = new String(b, i, 4, "US-ASCII")

    /** Iterate the boxes in [from, to); `f` gets (type, payloadStart,
      * payloadEnd). Returns false on any malformation. */
    def walk(from: Int, to: Int)(f: (String, Int, Int) => Boolean): Boolean = {
      var i = from
      while (i < to) {
        if (i + 8 > to) return false
        boxes += 1
        if (boxes > maxBoxes) return false
        var size = u32(i)
        val typ = fourcc(i + 4)
        var hdr = 8
        if (size == 1L) {
          if (i + 16 > to) return false
          size = u64(i + 8)
          hdr = 16
        } else if (size == 0L) size = (to - i).toLong
        if (size < hdr || i + size > to) return false
        if (!f(typ, i + hdr, i + size.toInt)) return false
        i += size.toInt
      }
      true
    }
  }

  /** Parse the container summary; None for anything that is not a
    * well-formed MP4 with an `ftyp`, an `mvhd`, and at least one track
    * carrying both `stsd` and `stsz` (truncated, corrupt, or non-BMFF
    * payloads — the keep path). */
  def parse(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 16) return None
    val w = new Walk(bytes)
    if (w.fourcc(4) != "ftyp") return None
    var brand: String = null
    var timescale = 0L
    var duration = -1L
    val tracks = Seq.newBuilder[Track]
    var nTracks = 0
    var ok = w.walk(0, bytes.length) {
      case ("ftyp", s, e) =>
        if (e - s < 8) false else { brand = w.fourcc(s); true }
      case ("moov", ms, me) =>
        w.walk(ms, me) {
          case ("mvhd", s, e) =>
            if (e - s < 4) false
            else {
              val v = bytes(s) & 0xFF
              if (v == 1) {
                // v1 payload: version/flags(4) + ctime(8) + mtime(8) +
                // timescale(4) + duration(8) — u64(s+24) reads s+24..s+31,
                // so the payload must be >= 32 bytes
                if (e - s < 32) false
                else { timescale = w.u32(s + 20); duration = w.u64(s + 24)
                  true }
              } else {
                if (e - s < 20) false
                else { timescale = w.u32(s + 12); duration = w.u32(s + 16)
                  true }
              }
            }
          case ("trak", ts, te) =>
            var codec: String = null
            var count = -1L
            var total = 0L
            var hash = fnvOffset
            val tok = w.walk(ts, te) {
              case ("mdia", is, ie) => w.walk(is, ie) {
                case ("minf", fs, fe) => w.walk(fs, fe) {
                  case ("stbl", bs, be) => w.walk(bs, be) {
                    case ("stsd", s, e) =>
                      // version+flags, entry_count, then entry size+fourcc
                      if (e - s < 16 || w.u32(s + 4) < 1) false
                      else { codec = w.fourcc(s + 12); true }
                    case ("stsz", s, e) =>
                      if (e - s < 12) false
                      else {
                        val fixed = w.u32(s + 4)
                        count = w.u32(s + 8)
                        if (count > maxSampleEntries) false
                        else if (fixed != 0L) {
                          total = fixed * count
                          hash = fnv(fnv(hash, fixed), count)
                          true
                        } else if (e - s < 12 + count * 4) false
                        else {
                          var i = 0L
                          while (i < count) {
                            val sz = w.u32(s + 12 + (i * 4).toInt)
                            total += sz
                            hash = fnv(hash, sz)
                            i += 1
                          }
                          true
                        }
                      }
                    case _ => true
                  }
                  case _ => true
                }
                case _ => true
              }
              case _ => true
            }
            if (!tok) false
            else if (codec == null || count < 0) false // track missing stsd/stsz
            else { tracks += Track(codec, count, total, hash); nTracks += 1
              true }
          case _ => true
        }
      case _ => true
    }
    val tks = tracks.result()
    // fragmented MP4 (DASH/CMAF) legally ships an EMPTY stsz in moov and
    // carries every sample size in moof/traf/trun boxes this walk never
    // visits — fingerprinting the all-tracks-zero-sample shape would
    // collide every fMP4 sharing a codec layout, so it abstains (null
    // keep path) instead of minting a degenerate identity
    ok &&= brand != null && timescale > 0 && duration >= 0 && nTracks > 0 &&
      tks.exists(_.sampleCount > 0)
    if (ok) Some(Meta(brand, timescale, duration, tks)) else None
  }

  /** `(idCol, stream_fp, major_brand, n_tracks, duration_ms, codecs)`
    * per payload row — nulls for unparsable payloads (rows KEPT: a
    * corrupt container is telemetry, not a crash). Runs per partition
    * on the codec seam. */
  def mp4Frame(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("stream_fp", LongType),
      StructField("major_brand", StringType),
      StructField("n_tracks", IntegerType),
      StructField("duration_ms", LongType),
      StructField("codecs", StringType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        parse(r.getAs[Array[Byte]](1)) match {
          case Some(m) => Row(r.getLong(0), streamFingerprint(m),
            m.majorBrand, m.tracks.size, m.durationMs,
            m.tracks.map(_.codec).mkString(","))
          case None => Row(r.getLong(0), null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  // --- Fixture writer (export half of the round trip) -----------------

  private def be32(v: Long): Array[Byte] = Array(
    ((v >> 24) & 0xFF).toByte, ((v >> 16) & 0xFF).toByte,
    ((v >> 8) & 0xFF).toByte, (v & 0xFF).toByte)

  private def box(typ: String, payload: Array[Byte]*): Array[Byte] = {
    val body = payload.flatten.toArray
    be32(body.length + 8L) ++ typ.getBytes("US-ASCII") ++ body
  }

  /** Deterministic per-seed sample-size tables (two tracks: an `avc1`
    * video track and an `mp4a` audio track) — the content identity a
    * re-mux preserves. */
  def sampleSizes(seed: Long, nSamples: Int): (Seq[Long], Seq[Long]) = (
    (0 until nSamples).map(i => 200L + ((seed * 31L + i * 17L) % 800L)),
    (0 until nSamples).map(i => 50L + ((seed * 13L + i * 7L) % 100L)))

  /** A minimal but spec-shaped two-track MP4: `ftyp` + `moov`(`mvhd` +
    * 2×`trak`/`mdia`/`minf`/`stbl`(`stsd`+`stsz`+`stco`)) + `mdat`.
    * `remux = true` rewrites ONLY container decisions — `mdat`-first box
    * order, a doubled timescale (duration ticks scaled to the identical
    * wall duration), shifted chunk offsets, and a free-space pad box —
    * leaving the sample tables untouched, exactly what a real re-mux
    * does. `truncateTo` cuts the payload for the keep path. The movie
    * lasts 10 s. */
  def mp4Payload(seed: Long, nSamples: Int = 48,
                 remux: Boolean = false, truncateTo: Int = -1)
      : Array[Byte] = {
    val (vid, aud) = sampleSizes(seed, nSamples)
    val timescale = if (remux) 1200L else 600L
    val duration = 10 * timescale
    val ftyp = box("ftyp", "isom".getBytes("US-ASCII"), be32(512L),
      "isom".getBytes("US-ASCII"), "mp41".getBytes("US-ASCII"))
    def mvhd = box("mvhd", Array[Byte](0, 0, 0, 0), be32(0L), be32(0L),
      be32(timescale), be32(duration))
    def stsdEntry(fourcc: String) = be32(16L) ++
      fourcc.getBytes("US-ASCII") ++ Array.fill[Byte](8)(0)
    def trak(fourcc: String, sizes: Seq[Long], chunkOff: Long) = {
      val stsd = box("stsd", Array[Byte](0, 0, 0, 0), be32(1L),
        stsdEntry(fourcc))
      val stsz = box("stsz", Array[Byte](0, 0, 0, 0), be32(0L),
        be32(sizes.size.toLong), sizes.toArray.flatMap(be32))
      val stco = box("stco", Array[Byte](0, 0, 0, 0), be32(1L),
        be32(chunkOff))
      box("trak", box("mdia", box("minf", box("stbl", stsd, stsz, stco))))
    }
    // re-mux shifts chunk offsets (mdat moved) — must NOT affect identity
    val off = if (remux) 16L else 4096L
    val moov = box("moov", mvhd, trak("avc1", vid, off),
      trak("mp4a", aud, off + vid.sum))
    val mdatBytes = (vid.sum + aud.sum).toInt
    val mdat = box("mdat",
      Array.tabulate[Byte](mdatBytes)(i => ((seed + i) % 251).toByte))
    val free = box("free", Array.fill[Byte](64)(0))
    val out = if (remux) ftyp ++ mdat ++ moov ++ free
              else ftyp ++ moov ++ mdat
    if (truncateTo >= 0) out.take(truncateTo) else out
  }

  /** `(idCol, payload)` fixture frame on the executors (driver holds
    * only ids — the [[ImagePixels]] fixtureFrame discipline), 48 samples
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
        mp4Payload(seed, 48, remux = remux, truncateTo = truncateTo))
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
