package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** REAL pixel-level image operators on the [[Multimodal.decodePartitions]]
  * codec seam: `javax.imageio` (PNG/BMP/GIF live in every JDK — no native
  * library) decodes the binary payload column, and a 64-bit difference
  * hash (dHash) fingerprints the pixels for perceptual near-duplicate
  * detection — the image analog of SimHash text dedup, and what an LLM
  * data pipeline actually dedups images BY (re-encoded, resized, and
  * brightness-shifted copies of one picture must collide; distinct
  * pictures must not).
  *
  * dHash here is EXACT integer arithmetic end to end: integer luminance
  * (299r + 587g + 114b, no /1000 — scale cancels in comparisons), a 9×8
  * integer box-filter downsample (per-cell pixel sums; never a float
  * resampler — `Graphics2D` interpolation is renderer-dependent), and
  * adjacent-cell comparisons cross-multiplied over (sum, area) so no
  * division truncates. The hash is therefore bit-reproducible across
  * JVMs and invariant under global brightness shifts by construction;
  * cell-aligned rescales reproduce it exactly.
  *
  * Scale shape: decode + hash run per partition inside `mapPartitions`
  * (codec init amortizes per batch, the [[Multimodal.decodePartitions]]
  * contract); downstream pairing is [[graft.functions.Dedup
  * .simhashNearDups]]'s chunk-pigeonhole blocking — hamming ≤ d pairs
  * meet on an equal chunk, never an all-pairs join. Undecodable
  * payloads (truncated, corrupt, not an image) survive as null-hash
  * rows — the keep path — and are excluded from pairing only. */
object ImagePixels {

  /** Pixel budget fence: keeps the cross-multiplied cell comparison
    * (sum × area) inside Long exactly. 2^28 pixels ≈ a 16k×16k image. */
  val maxPixels: Long = 1L << 28

  /** Decode any ImageIO-supported payload; None on null/empty/corrupt/
    * truncated/unsupported bytes (the keep path, never a throw). */
  def decode(bytes: Array[Byte]): Option[BufferedImage] =
    if (bytes == null || bytes.isEmpty) None
    else
      try Option(javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(bytes)))
      catch { case _: Exception => None }

  /** Integer luminance at 1000× scale (299r + 587g + 114b) — exact,
    * and the scale cancels in every dHash comparison. */
  def luminance(rgb: Int): Int =
    299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
      114 * (rgb & 0xFF)

  /** 64-bit difference hash: 9×8 integer box-filter luminance grid,
    * bit (row·8 + col) set where cell(col) < cell(col+1) — strict,
    * cross-multiplied over exact (sum, area). */
  def dHash64(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    require(w.toLong * h <= maxPixels,
      s"dHash64: image $w x $h exceeds the $maxPixels-pixel exactness fence")
    val sums = Array.ofDim[Long](8, 9)
    val areas = Array.ofDim[Long](8, 9)
    var cy = 0
    while (cy < 8) {
      val y0 = cy * h / 8
      val y1 = math.max(y0 + 1, (cy + 1) * h / 8)
      var cx = 0
      while (cx < 9) {
        val x0 = cx * w / 9
        val x1 = math.max(x0 + 1, (cx + 1) * w / 9)
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += luminance(img.getRGB(x, y)); x += 1 }
          y += 1
        }
        sums(cy)(cx) = s
        areas(cy)(cx) = (x1 - x0).toLong * (y1 - y0)
        cx += 1
      }
      cy += 1
    }
    var hash = 0L
    var b = 0
    cy = 0
    while (cy < 8) {
      var cx = 0
      while (cx < 8) {
        if (sums(cy)(cx) * areas(cy)(cx + 1) <
            sums(cy)(cx + 1) * areas(cy)(cx)) hash |= 1L << b
        b += 1
        cx += 1
      }
      cy += 1
    }
    hash
  }

  /** Declared dimensions from the image HEADER only — no pixel decode,
    * no raster allocation. None when no installed reader recognizes the
    * payload (the same payloads [[decode]] returns None for). */
  def probeDims(bytes: Array[Byte]): Option[(Int, Int)] =
    if (bytes == null || bytes.isEmpty) None
    else
      try {
        val iis = javax.imageio.ImageIO.createImageInputStream(
          new java.io.ByteArrayInputStream(bytes))
        try {
          val readers = javax.imageio.ImageIO.getImageReaders(iis)
          if (!readers.hasNext) None
          else {
            val r = readers.next()
            try { r.setInput(iis); Some((r.getWidth(0), r.getHeight(0))) }
            finally r.dispose()
          }
        } finally if (iis != null) iis.close()
      } catch { case _: Exception => None }

  /** Decode for hashing: like [[decode]] but ALSO rejects images whose
    * pixel count breaches the [[maxPixels]] exactness fence — a
    * decodable decompression-bomb PNG in an untrusted corpus must be
    * telemetry (null-hash keep row), never an executor-killing throw
    * from the `require` inside [[dHash64]]/[[pixelFingerprint]]. The
    * fence is checked on the HEADER dimensions ([[probeDims]]) BEFORE
    * `ImageIO.read` materializes the raster — an oversized bomb is
    * rejected without ever allocating its decoded pixels (the
    * post-decode filter stays as a defense-in-depth re-check). */
  def decodeBounded(bytes: Array[Byte]): Option[BufferedImage] =
    probeDims(bytes) match {
      case Some((w, h)) if w.toLong * h > maxPixels => None
      case _ =>
        decode(bytes)
          .filter(img => img.getWidth.toLong * img.getHeight <= maxPixels)
    }

  /** Decode-then-hash; None when the payload doesn't decode or is
    * oversized. */
  def dHashOf(bytes: Array[Byte]): Option[Long] =
    decodeBounded(bytes).map(dHash64)

  /** `(idCol, dhash, width, height)` per payload row — dhash/width/
    * height null for undecodable payloads (rows are KEPT: a corrupt
    * image is telemetry, not a crash). Decode runs per partition on
    * the [[Multimodal.decodePartitions]] seam. */
  def dhashFrame(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("dhash", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        decodeBounded(r.getAs[Array[Byte]](1)) match {
          case Some(img) =>
            Row(r.getLong(0), dHash64(img), img.getWidth, img.getHeight)
          case None => Row(r.getLong(0), null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Canonical PIXEL fingerprint: md5 over `width × height` followed by
    * the row-major RGB triples of the decoded image — the same picture
    * re-encoded losslessly in another container (PNG ↔ BMP ↔ GIF
    * round trips) fingerprints IDENTICALLY, where a raw payload md5
    * sees distinct files. The cross-format exact-dedup key an image
    * corpus needs before any perceptual pass (and the cheap first
    * stage: exact clones never reach the dHash join). None when the
    * payload doesn't decode or breaches the [[maxPixels]] fence
    * (enforced by [[decodeBounded]] — oversized is keep-path, not a
    * throw). */
  def pixelFingerprint(bytes: Array[Byte]): Option[String] =
    decodeBounded(bytes).map { img =>
      val w = img.getWidth
      val h = img.getHeight
      val md = java.security.MessageDigest.getInstance("MD5")
      md.update(java.nio.ByteBuffer.allocate(8).putInt(w).putInt(h).array())
      val row = new Array[Byte](w * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          row(x * 3) = ((rgb >> 16) & 0xFF).toByte
          row(x * 3 + 1) = ((rgb >> 8) & 0xFF).toByte
          row(x * 3 + 2) = (rgb & 0xFF).toByte
          x += 1
        }
        md.update(row)
        y += 1
      }
      md.digest().map("%02x".format(_)).mkString
    }

  /** `(idCol, pixel_fp)` per payload row — null fingerprint for
    * undecodable payloads (kept). Same partition-wise seam as
    * [[dhashFrame]]. */
  def fingerprintFrame(df: DataFrame, idCol: String, payloadCol: String)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("pixel_fp", StringType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.map { r =>
        Row(r.getLong(0),
          pixelFingerprint(r.getAs[Array[Byte]](1)).orNull)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Perceptual image near-dup pairs `(idCol_a, idCol_b, hamming)` at
    * hamming ≤ `maxDist`: real pixel decode → dHash → the SimHash
    * chunk-pigeonhole join (8 chunks of 8 bits — exact for maxDist ≤ 7,
    * never all-pairs). Undecodable payloads drop from pairing only. */
  def imageNearDups(df: DataFrame, idCol: String,
                    payloadCol: String): DataFrame =
    graft.functions.Dedup.simhashNearDups(
      dhashFrame(df, idCol, payloadCol).filter(col("dhash").isNotNull),
      idCol, "dhash", 4, numChunks = 8, chunkBits = 8, simBits = 64)

  // --- Deterministic fixture generation (gates + specs) ---------------
  // Real PNG/BMP bytes without any corpus of image files: a per-seed
  // pseudo-random luminance pattern laid out on the SAME 9×8 grid the
  // dHash reads, so a w%9==0 / h%8==0 render reproduces the hash
  // exactly at ANY such size — the resized-clone recall fixture is
  // constructive, not probabilistic.

  /** Pseudo-random 0..247 luminance for pattern block (bx, by) of
    * `seed` — a pure integer mixer (splitmix-style), identical on any
    * JVM. The range stops short of 255 so a small brightness shift
    * never clamps (clamping would break the shift-invariance the clone
    * fixture relies on). */
  def patternLum(seed: Long, bx: Int, by: Int): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + bx * 0xC2B2AE3D27D4EB4FL +
      by * 0x165667B19E3779F9L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    ((((z ^ (z >>> 31)) >>> 16) & 0xFFFFL) % 248L).toInt
  }

  /** Render the seed's 9×8 block pattern at w×h, all channels =
    * min(255, lum + shift) — a global brightness shift the dHash must
    * be invariant to. Grid rows in `divergeRows` re-key with an offset
    * seed: each diverged row re-rolls ONLY its own 8 dHash bits, the
    * controlled-partial-edit fixture (a one-row variant sits ≤ 8 bits
    * away; a two-row variant stacks two independent 8-bit bands —
    * what a near-dup CHAIN fixture needs: O~X and X~Y close, O—Y
    * far). */
  def renderImage(seed: Long, w: Int, h: Int, shift: Int = 0,
                  divergeRows: Seq[Int] = Nil): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val diverged = divergeRows.toSet
    var y = 0
    while (y < h) {
      val by = y * 8 / h
      val rowSeed = if (diverged(by)) seed + 900000L else seed
      var x = 0
      while (x < w) {
        val l = math.min(255, patternLum(rowSeed, x * 9 / w, by) + shift)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Encode via ImageIO ("png" and "bmp" are lossless in-JDK). */
  def encodeImage(img: BufferedImage, format: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    require(javax.imageio.ImageIO.write(img, format, bos),
      s"encodeImage: no ImageIO writer for format '$format'")
    bos.toByteArray
  }

  /** Fixture payload: render + encode; `truncateTo >= 0` keeps only
    * that many leading bytes (the corrupt-payload fixture). */
  def fixturePayload(seed: Long, w: Int, h: Int, format: String,
                     shift: Int = 0, truncateTo: Int = -1,
                     divergeRows: Seq[Int] = Nil): Array[Byte] = {
    val bytes = encodeImage(renderImage(seed, w, h, shift, divergeRows),
      format)
    if (truncateTo >= 0) bytes.take(truncateTo) else bytes
  }

  /** `(media_id, payload)` fixture frame over an id column: one image
    * per input row, pattern keyed by the ORIGINAL id, media_id = id +
    * `idOffset` (clone waves keep their source's pattern under new
    * ids). Rendering runs executor-side per partition. */
  def fixtureFrame(df: DataFrame, idCol: String, w: Int, h: Int,
                   format: String, shift: Int = 0, idOffset: Long = 0L,
                   truncateTo: Int = -1,
                   divergeRows: Seq[Int] = Nil): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rdd = df.select(col(idCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id + idOffset, fixturePayload(id, w, h, format, shift,
          truncateTo, divergeRows))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
