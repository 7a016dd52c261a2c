package graft.multimodal

/** Dependency-free FLAC (RFC 9639) subset codec — the lossless audio
  * CONTAINER a crawl's music/speech corpus actually carries, decoded
  * to the same canonical 16-bit integer sample domain as
  * [[AudioSamples.decodeWav]], so the energy-envelope fingerprint
  * collapses a recording across CODECS (WAV ↔ FLAC), not just across
  * bit depths.
  *
  * Decode subset (everything the fixed-predictor profile of real
  * encoders emits): fixed-blocksize streams, independent channels AND
  * all three stereo decorrelations (left-side / right-side / mid-side
  * — the default stereo output of real encoders; the side channel
  * carries its extra bit), 8/16/24/32-bit samples, CONSTANT /
  * VERBATIM / FIXED(0-4) subframes, 4- and 5-bit Rice partitions with
  * escape codes, UTF-8-coded frame numbers, and BOTH frame CRCs
  * verified (CRC-8 header, CRC-16 frame) — a corrupt or truncated
  * stream returns None (keep path), never a throw or a garbage
  * sample. LPC subframes return None (documented out of subset; the
  * fingerprint keep path treats them as undecodable telemetry).
  *
  * The encoder exists for fixtures/round-trips: FIXED subframes
  * (orders 0-4), partitioned Rice, and the three decorrelated stereo
  * modes — enough to exercise every decode path. Conformance
  * against external decoders is untestable in this sandbox (no flac/
  * ffmpeg binary — same caveat class as the S3A/MSSQL items); the
  * bitstream follows the RFC field-for-field and every structural
  * field is round-trip-pinned in FlacCodecSpec. */
object FlacCodec {

  // --- CRCs (RFC 9639 §9.2: CRC-8 poly 0x07, CRC-16 poly 0x8005) -------

  private[multimodal] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF
              else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  private[multimodal] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF
              else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  // --- Bit IO (MSB-first, the FLAC bit order) ---------------------------

  private final class BitWriter {
    private val bytes = new java.io.ByteArrayOutputStream()
    private var acc = 0L
    private var nAcc = 0
    def writeBits(v: Long, n: Int): Unit = {
      require(n >= 0 && n <= 57, s"writeBits: n=$n")
      acc = (acc << n) | (v & ((1L << n) - 1))
      nAcc += n
      while (nAcc >= 8) {
        bytes.write(((acc >>> (nAcc - 8)) & 0xFF).toInt)
        nAcc -= 8
      }
    }
    def writeUnary(q: Int): Unit = { // q zeros then a one
      var r = q
      while (r >= 32) { writeBits(0L, 32); r -= 32 }
      writeBits(1L, r + 1)
    }
    def align(): Unit = if (nAcc > 0) writeBits(0L, 8 - nAcc)
    def toBytes: Array[Byte] = { align(); bytes.toByteArray }
  }

  private final class BitReader(b: Array[Byte]) {
    private var pos = 0 // bit position
    def bytePos: Int = pos >> 3
    def readBits(n: Int): Long = {
      var v = 0L
      var left = n
      while (left > 0) {
        if ((pos >> 3) >= b.length)
          throw new java.io.EOFException("flac: bitstream exhausted")
        val bit = (b(pos >> 3) >> (7 - (pos & 7))) & 1
        v = (v << 1) | bit
        pos += 1
        left -= 1
      }
      v
    }
    def readUnary(): Int = {
      var q = 0
      while (readBits(1) == 0L) {
        q += 1
        if (q > (1 << 24))
          throw new java.io.EOFException("flac: runaway unary")
      }
      q
    }
    def align(): Unit = if ((pos & 7) != 0) pos += 8 - (pos & 7)
    def seekByte(byteOff: Int): Unit = { pos = byteOff << 3 }
  }

  // --- UTF-8-style coded number (frame header, RFC 9639 §9.1.2) --------

  private def writeCodedNumber(w: BitWriter, v: Long): Unit = {
    if (v < 0x80) w.writeBits(v, 8)
    else {
      // count payload bits -> number of continuation bytes
      var bytes = 1
      while (bytes < 6 && v >= (1L << (6 - bytes + 6 * bytes))) bytes += 1
      // leading byte: (bytes+1) ones, a zero, then the high payload bits
      val highBits = 6 - bytes
      val lead = ((0xFF << (7 - bytes)) & 0xFF) |
        ((v >> (6 * bytes)) & ((1 << highBits) - 1)).toInt
      w.writeBits(lead.toLong, 8)
      var i = bytes - 1
      while (i >= 0) {
        w.writeBits(0x80L | ((v >> (6 * i)) & 0x3F), 8)
        i -= 1
      }
    }
  }

  private def readCodedNumber(r: BitReader): Long = {
    val first = r.readBits(8).toInt
    if ((first & 0x80) == 0) return first.toLong
    var cont = 0
    var mask = 0x40
    while ((first & mask) != 0) { cont += 1; mask >>= 1 }
    if (cont < 1 || cont > 6)
      throw new java.io.IOException("flac: bad coded number")
    var v = (first & (mask - 1)).toLong
    var i = 0
    while (i < cont) {
      val b = r.readBits(8).toInt
      if ((b & 0xC0) != 0x80)
        throw new java.io.IOException("flac: bad continuation byte")
      v = (v << 6) | (b & 0x3F)
      i += 1
    }
    v
  }

  // --- Decode ----------------------------------------------------------

  private val bpsFromCode = Map(1 -> 8, 2 -> 12, 4 -> 16, 5 -> 20,
    6 -> 24, 7 -> 32)

  /** Decode a FLAC stream of the supported subset to
    * `(sampleRate, channels, mono-mixed canonical-16-domain samples)`;
    * None on anything unparseable, truncated, CRC-corrupt, or out of
    * subset (LPC) — the keep path. */
  def decode(b: Array[Byte]): Option[(Int, Int, Array[Long])] =
    try decodeStrict(b) catch { case _: Exception => None }

  private def decodeStrict(b: Array[Byte]): Option[(Int, Int, Array[Long])] = {
    if (b == null || b.length < 42) return None
    if (!(b(0) == 'f' && b(1) == 'L' && b(2) == 'a' && b(3) == 'C'))
      return None
    val r = new BitReader(b)
    r.seekByte(4)
    // metadata blocks; the first must be STREAMINFO
    var last = false
    var first = true
    var rate = 0
    var channels = 0
    var bps = 0
    var total = 0L
    var blockSizeInfo = 0
    while (!last) {
      last = r.readBits(1) == 1L
      val btype = r.readBits(7).toInt
      val blen = r.readBits(24).toInt
      if (first) {
        if (btype != 0 || blen != 34) return None
        blockSizeInfo = r.readBits(16).toInt
        r.readBits(16) // max block size
        r.readBits(24); r.readBits(24) // frame size bounds
        rate = r.readBits(20).toInt
        channels = r.readBits(3).toInt + 1
        bps = r.readBits(5).toInt + 1
        total = r.readBits(36)
        var i = 0
        while (i < 16) { r.readBits(8); i += 1 } // md5
        first = false
      } else {
        var i = 0
        while (i < blen) { r.readBits(8); i += 1 }
      }
    }
    if (rate <= 0 || channels < 1 || total < 1) return None
    if (total * channels > AudioSamples.maxSamples) return None
    val shift = bps - 16 // canonical 16-bit domain
    val out = new Array[Long](total.toInt)
    var written = 0
    while (written < total) {
      // frame header (CRC-8 covers sync..before the crc byte)
      val frameStart = r.bytePos
      if (r.readBits(14) != 0x3FFE) return None
      r.readBits(1) // reserved
      r.readBits(1) // blocking strategy
      val bsCode = r.readBits(4).toInt
      val srCode = r.readBits(4).toInt
      val chanAsg = r.readBits(4).toInt
      val bpsCode = r.readBits(3).toInt
      r.readBits(1) // reserved
      readCodedNumber(r)
      val blockSize = bsCode match {
        case 0 => return None
        case 1 => 192
        case 6 => r.readBits(8).toInt + 1
        case 7 => r.readBits(16).toInt + 1
        case c if c >= 2 && c <= 5 => 576 << (c - 2)
        case c => 256 << (c - 8)
      }
      if (srCode == 12) r.readBits(8)
      else if (srCode == 13 || srCode == 14) r.readBits(16)
      else if (srCode == 15) return None
      val crc8End = r.bytePos
      val headerCrc = r.readBits(8).toInt
      if (crc8(b, frameStart, crc8End) != headerCrc) return None
      if (chanAsg > 10) return None
      val sideStereo = chanAsg >= 8 // 8 left/side, 9 right/side, 10 mid/side
      val frameCh = if (sideStereo) 2 else chanAsg + 1
      if (frameCh != channels) return None
      val frameBps = if (bpsCode == 0) bps
        else bpsFromCode.getOrElse(bpsCode, return None)
      if (frameBps != bps) return None
      val n = math.min(blockSize.toLong, total - written).toInt
      if (n < blockSize && written + blockSize < total) return None
      // decode each channel's subframe into its own buffer; the SIDE
      // channel of a decorrelated pair carries one extra bit
      def sideBitsFor(c: Int): Int = chanAsg match {
        case 8  => if (c == 1) 1 else 0 // left/side
        case 9  => if (c == 0) 1 else 0 // side/right
        case 10 => if (c == 1) 1 else 0 // mid/side
        case _  => 0
      }
      val chanBuf = new Array[Array[Long]](channels)
      var c = 0
      while (c < channels) {
        if (r.readBits(1) != 0L) return None
        val sfType = r.readBits(6).toInt
        val wasted = if (r.readBits(1) == 1L) r.readUnary() + 1 else 0
        // reject rather than decode-to-garbage: an adversarial wasted
        // count >= the subframe width makes effBps <= 0, and a shift
        // count >= 64 wraps mod 64 on the JVM — only the 2^-16 CRC-16
        // would stand between that and a wrong-but-accepted fingerprint
        if (wasted >= bps + sideBitsFor(c) || wasted > 32) return None
        val effBps = bps + sideBitsFor(c) - wasted
        val samples = new Array[Long](blockSize)
        def signed(v: Long, bits: Int): Long = (v << (64 - bits)) >> (64 - bits)
        sfType match {
          case 0 => // CONSTANT
            val v = signed(r.readBits(effBps), effBps)
            java.util.Arrays.fill(samples, v)
          case 1 => // VERBATIM
            var i = 0
            while (i < blockSize) {
              samples(i) = signed(r.readBits(effBps), effBps); i += 1
            }
          case t if t >= 8 && t <= 12 => // FIXED, order t-8
            val order = t - 8
            var i = 0
            while (i < order) {
              samples(i) = signed(r.readBits(effBps), effBps); i += 1
            }
            // residual: method, partition order, Rice partitions
            val method = r.readBits(2).toInt
            if (method > 1) return None
            val pBits = if (method == 0) 4 else 5
            val escape = if (method == 0) 15 else 31
            val pOrder = r.readBits(4).toInt
            val nPart = 1 << pOrder
            if (blockSize % nPart != 0) return None
            var p = 0
            var idx = order
            while (p < nPart) {
              val count = (blockSize >> pOrder) - (if (p == 0) order else 0)
              val param = r.readBits(pBits).toInt
              var j = 0
              if (param == escape) {
                val raw = r.readBits(5).toInt
                while (j < count) {
                  val z =
                    if (raw == 0) 0L else signed(r.readBits(raw), raw)
                  samples(idx) = z; idx += 1; j += 1
                }
              } else {
                while (j < count) {
                  val q = r.readUnary().toLong
                  val z = (q << param) | (if (param == 0) 0L
                    else r.readBits(param))
                  // zigzag: even -> z/2, odd -> -(z+1)/2
                  samples(idx) = if ((z & 1L) == 0L) z >> 1
                    else -((z >> 1) + 1)
                  idx += 1; j += 1
                }
              }
              p += 1
            }
            // reconstruct through the fixed predictor
            i = order
            while (i < blockSize) {
              val pred = order match {
                case 0 => 0L
                case 1 => samples(i - 1)
                case 2 => 2 * samples(i - 1) - samples(i - 2)
                case 3 => 3 * samples(i - 1) - 3 * samples(i - 2) +
                  samples(i - 3)
                case 4 => 4 * samples(i - 1) - 6 * samples(i - 2) +
                  4 * samples(i - 3) - samples(i - 4)
              }
              samples(i) = samples(i) + pred
              i += 1
            }
          case _ => return None // LPC: out of subset
        }
        var i = 0
        while (i < blockSize) {
          samples(i) = samples(i) << wasted // restore the bps domain
          i += 1
        }
        chanBuf(c) = samples
        c += 1
      }
      // undo the stereo decorrelation, then mono-mix by exact sum
      val (l, rr) = chanAsg match {
        case 8 => // left/side: R = L - S
          val lch = chanBuf(0)
          (lch, Array.tabulate(blockSize)(i => lch(i) - chanBuf(1)(i)))
        case 9 => // side/right: L = R + S
          val rch = chanBuf(1)
          (Array.tabulate(blockSize)(i => rch(i) + chanBuf(0)(i)), rch)
        case 10 => // mid/side: mid2 = (M<<1)|(S&1); L,R = (mid2 ± S)>>1
          val m = chanBuf(0); val sd = chanBuf(1)
          (Array.tabulate(blockSize) { i =>
            ((m(i) << 1 | (sd(i) & 1L)) + sd(i)) >> 1
          }, Array.tabulate(blockSize) { i =>
            ((m(i) << 1 | (sd(i) & 1L)) - sd(i)) >> 1
          })
        case _ => (null, null) // independent: mix chanBuf directly
      }
      // canonical mapping PER CHANNEL before the sum — the decodeWav
      // convention, so a 24-bit FLAC and its 24-bit WAV twin mix
      // identically
      def canon(v: Long): Long = if (shift >= 0) v >> shift else v << -shift
      var i = 0
      while (i < n) {
        out(written + i) +=
          (if (sideStereo) canon(l(i)) + canon(rr(i))
          else {
            var acc = 0L
            var cc = 0
            while (cc < channels) { acc += canon(chanBuf(cc)(i)); cc += 1 }
            acc
          })
        i += 1
      }
      r.align()
      val crc16End = r.bytePos
      val frameCrc = r.readBits(16).toInt
      if (crc16(b, frameStart, crc16End) != frameCrc) return None
      written += n
    }
    Some((rate, channels, out))
  }

  // --- Encode (fixture path: FIXED order-0, one Rice partition) --------

  /** Encode canonical-16-domain per-channel-identical samples as a
    * fixed-blocksize FLAC stream (FIXED subframes of the given
    * predictor `order`, `2^partitionOrder` Rice partitions with
    * per-partition adaptive parameters, both CRCs) — the fixture/
    * export half of the round trip, and the coverage driver for every
    * decode path (orders 0-4, multi-partition residuals, and the
    * three STEREO DECORRELATIONS real encoders default to — pass
    * `right` + `stereoMode` ∈ left-side | right-side | mid-side to
    * store a genuine (channel, side-with-extra-bit) pair). Samples
    * must fit 16 bits. */
  def encode(samples: Array[Int], sampleRate: Int, channels: Int = 1,
             blockSize: Int = 4096, order: Int = 0,
             partitionOrder: Int = 0, right: Option[Array[Int]] = None,
             stereoMode: String = "independent"): Array[Byte] = {
    require(samples.nonEmpty, "flac encode: need samples")
    require(channels >= 1 && channels <= 8, "flac encode: 1..8 channels")
    require(blockSize >= 16 && blockSize <= 65536, "flac encode: blockSize")
    require(order >= 0 && order <= 4, "flac encode: FIXED order 0..4")
    require(partitionOrder >= 0 && partitionOrder <= 4,
      "flac encode: partitionOrder 0..4")
    require(samples.forall(s => s >= -32768 && s <= 32767),
      "flac encode: 16-bit samples only")
    require(right.forall(r => r.length == samples.length &&
      r.forall(s => s >= -32768 && s <= 32767)),
      "flac encode: right channel must match length and fit 16 bits")
    require(stereoMode == "independent" || (channels == 2 && right.isDefined),
      s"flac encode: stereoMode '$stereoMode' needs channels=2 and a " +
        "right channel")
    val chanAsgCode = stereoMode match {
      case "independent" => channels - 1
      case "left-side"   => 8
      case "right-side"  => 9
      case "mid-side"    => 10
      case other => throw new IllegalArgumentException(
        s"flac encode: unknown stereoMode '$other'")
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write("fLaC".getBytes("US-ASCII"))
    val si = new BitWriter
    si.writeBits(1L, 1) // last metadata block
    si.writeBits(0L, 7) // STREAMINFO
    si.writeBits(34L, 24)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(blockSize.toLong, 16)
    si.writeBits(0L, 24); si.writeBits(0L, 24)
    si.writeBits(sampleRate.toLong, 20)
    si.writeBits((channels - 1).toLong, 3)
    si.writeBits(15L, 5) // bps - 1 = 15
    si.writeBits(samples.length.toLong, 36)
    (0 until 16).foreach(_ => si.writeBits(0L, 8)) // md5 unknown
    out.write(si.toBytes)
    var off = 0
    var frameNo = 0L
    while (off < samples.length) {
      val n = math.min(blockSize, samples.length - off)
      val fw = new BitWriter
      fw.writeBits(0x3FFEL, 14) // sync
      fw.writeBits(0L, 1) // reserved
      fw.writeBits(0L, 1) // fixed blocksize strategy
      fw.writeBits(7L, 4) // blocksize: 16-bit at end
      fw.writeBits(0L, 4) // sample rate: from STREAMINFO
      fw.writeBits(chanAsgCode.toLong, 4)
      fw.writeBits(4L, 3) // 16 bps
      fw.writeBits(0L, 1) // reserved
      writeCodedNumber(fw, frameNo)
      fw.writeBits((n - 1).toLong, 16)
      val headBytes = fw.toBytes // aligned: all fields above are 8-aligned
      val head2 = new BitWriter
      head2.writeBits(crc8(headBytes, 0, headBytes.length).toLong, 8)
      // per-frame predictor/partition shape: degrade gracefully when
      // the (possibly short, final) block cannot hold the requested
      // order/partitioning
      val fOrder = if (n > order) order else 0
      var pOrd = partitionOrder
      while (pOrd > 0 && (n % (1 << pOrd) != 0 || (n >> pOrd) <= fOrder))
        pOrd -= 1
      // the stored channels: L/R pass through or decorrelate into the
      // (channel, side) pair the assignment code names; SIDE carries
      // one extra bit
      val lBlock = Array.tabulate(n)(i => samples(off + i).toLong)
      val rBlock = right.map(rc => Array.tabulate(n)(i => rc(off + i).toLong))
      val stored: Seq[(Array[Long], Int)] = stereoMode match {
        case "independent" =>
          (0 until channels).map(c =>
            (if (c == 1 && rBlock.isDefined) rBlock.get else lBlock, 16))
        case "left-side" =>
          Seq((lBlock, 16),
            (Array.tabulate(n)(i => lBlock(i) - rBlock.get(i)), 17))
        case "right-side" =>
          Seq((Array.tabulate(n)(i => lBlock(i) - rBlock.get(i)), 17),
            (rBlock.get, 16))
        case "mid-side" =>
          Seq((Array.tabulate(n)(i => (lBlock(i) + rBlock.get(i)) >> 1), 16),
            (Array.tabulate(n)(i => lBlock(i) - rBlock.get(i)), 17))
      }
      def zig(v: Long): Long = if (v >= 0) v << 1 else ((-v) << 1) - 1
      stored.foreach { case (block, chBits) =>
        val resid = {
          var cur = block.clone()
          var o = 0
          while (o < fOrder) {
            val next = new Array[Long](cur.length)
            var i = cur.length - 1
            while (i > o) { next(i) = cur(i) - cur(i - 1); i -= 1 }
            System.arraycopy(cur, 0, next, 0, o + 1)
            cur = next
            o += 1
          }
          cur
        }
        head2.writeBits(0L, 1)
        head2.writeBits((8 + fOrder).toLong, 6) // FIXED, this order
        head2.writeBits(0L, 1) // no wasted bits
        var i = 0
        while (i < fOrder) { // warmup samples, raw
          head2.writeBits(block(i) & ((1L << chBits) - 1), chBits)
          i += 1
        }
        head2.writeBits(0L, 2) // 4-bit Rice
        head2.writeBits(pOrd.toLong, 4)
        var p = 0
        var idx = fOrder
        while (p < (1 << pOrd)) {
          val count = (n >> pOrd) - (if (p == 0) fOrder else 0)
          var maxZ = 1L
          var j = 0
          while (j < count) {
            maxZ = math.max(maxZ, zig(resid(idx + j))); j += 1
          }
          val param = math.min(14,
            63 - java.lang.Long.numberOfLeadingZeros(maxZ))
          head2.writeBits(param.toLong, 4)
          j = 0
          while (j < count) {
            val z = zig(resid(idx)) // idx walks the partition
            head2.writeUnary((z >> param).toInt)
            head2.writeBits(z, param)
            idx += 1
            j += 1
          }
          p += 1
        }
      }
      val body = head2.toBytes // align() pads the subframe tail
      val frame = headBytes ++ body
      out.write(frame)
      val cw = new BitWriter
      cw.writeBits(crc16(frame, 0, frame.length).toLong, 16)
      out.write(cw.toBytes)
      off += n
      frameNo += 1
    }
    out.toByteArray
  }

  /** The [[AudioSamples.wavPayloadDepth]] signal as FLAC: the seed's
    * quantized square wave, identical on every channel — byte-level
    * different container, IDENTICAL canonical samples, so the
    * fingerprint collides across codecs by construction. */
  def flacPayload(seed: Long, nSamples: Int, sampleRate: Int,
                  channels: Int = 1,
                  order: Int = 0, partitionOrder: Int = 0,
                  stereoMode: String = "independent",
                  truncateTo: Int = -1): Array[Byte] = {
    require(nSamples % 65 == 0,
      s"flacPayload: nSamples must be 65-aligned, got $nSamples")
    val win = nSamples / 65
    val samples = Array.tabulate(nSamples) { i =>
      val amp = AudioSamples.envelopeAmpQ(seed, i / win)
      if (i % 2 == 0) amp else -amp
    }
    // decorrelated modes carry a half-amplitude right channel (exact:
    // the quantized amps are multiples of 256), so the SIDE channel is
    // genuinely nonzero and the mono mix stays a pure scaling of the
    // envelope — the fingerprint still collides with the WAV twin
    val right = if (stereoMode == "independent") None
      else Some(samples.map(_ / 2))
    val bytes = encode(samples, sampleRate, channels, 4096, order,
      partitionOrder, right, stereoMode)
    if (truncateTo >= 0) bytes.take(truncateTo) else bytes
  }

  /** `(media_id, payload)` FLAC fixture frame — the
    * [[AudioSamples.fixtureFrameDepth]] shape on the FLAC container. */
  def fixtureFrame(df: org.apache.spark.sql.DataFrame, idCol: String,
                   nSamples: Int, sampleRate: Int, channels: Int = 1,
                   order: Int = 0, partitionOrder: Int = 0,
                   stereoMode: String = "independent",
                   idOffset: Long = 0L,
                   truncateTo: Int = -1): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types._
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rdd = df.select(col(idCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        org.apache.spark.sql.Row(id + idOffset,
          flacPayload(id, nSamples, sampleRate, channels, order,
            partitionOrder, stereoMode, truncateTo))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
