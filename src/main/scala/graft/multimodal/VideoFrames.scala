package graft.multimodal

import java.awt.image.BufferedImage

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Frame-level VIDEO operators on the in-JDK multi-frame container
  * (animated GIF — `javax.imageio` reads and writes frame sequences
  * pixel-exactly for ≤ 256-color content, pinned by VideoFramesSpec): a video
  * is fingerprinted as the dHashes of `k` EVENLY-SAMPLED frames, and
  * two videos near-duplicate when at least `minMatches` sampled
  * positions agree within a hamming fence — the standard
  * frame-signature approach to video dedup, built entirely from the
  * [[ImagePixels]] kernel.
  *
  * The sampling grid is RATE-INVARIANT by construction: sample j reads
  * frame `⌊j·n/k⌋`, so a frame-doubled re-encode (every frame
  * duplicated — the 2× frame-rate copy) samples the same CONTENT at
  * every position (`⌊2jn/k⌋ ∈ {2a, 2a+1}` both showing original frame
  * `a = ⌊jn/k⌋`), and with [[ImagePixels.dHash64]]'s resize/brightness
  * invariances a re-encoded, upscaled, rate-doubled, brightness-
  * shifted copy matches at ALL k positions exactly. Scale shape: the
  * pairing is per-position chunk-pigeonhole joins (never all-pairs),
  * then one map-side-combinable match count per candidate pair.
  *
  * Undecodable payloads survive as a single null row (the keep path). */
object VideoFrames {

  /** Encode frames as one animated GIF (the ImageIO sequence API). */
  def encodeAnimatedGif(frames: Seq[BufferedImage]): Array[Byte] = {
    require(frames.nonEmpty, "encodeAnimatedGif: need at least one frame")
    val bos = new java.io.ByteArrayOutputStream()
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach(img => writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), null))
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** Per-frame GIF89a geometry + disposal, parsed from the reader's
    * `javax_imageio_gif_image_1.0` metadata tree. Non-GIF containers
    * (or unreadable metadata) fall back to a full frame at the origin
    * with no disposal — the pre-compositing behavior. */
  private final case class FrameMeta(left: Int, top: Int, disposal: String)

  private def frameMeta(reader: javax.imageio.ImageReader,
                        i: Int): FrameMeta =
    try {
      val root = reader.getImageMetadata(i)
        .getAsTree("javax_imageio_gif_image_1.0")
        .asInstanceOf[org.w3c.dom.Element]
      def first(name: String): Option[org.w3c.dom.Element] = {
        val nl = root.getElementsByTagName(name)
        if (nl.getLength > 0) Some(nl.item(0).asInstanceOf[org.w3c.dom.Element])
        else None
      }
      def intAttr(e: org.w3c.dom.Element, a: String): Int = {
        val v = e.getAttribute(a)
        if (v == null || v.isEmpty) 0 else v.toInt
      }
      val desc = first("ImageDescriptor")
      FrameMeta(
        desc.map(intAttr(_, "imageLeftPosition")).getOrElse(0),
        desc.map(intAttr(_, "imageTopPosition")).getOrElse(0),
        first("GraphicControlExtension").map(_.getAttribute("disposalMethod"))
          .filter(_.nonEmpty).getOrElse("none"))
    } catch { case _: Exception => FrameMeta(0, 0, "none") }

  /** Logical-screen canvas size from the GIF stream metadata; frame-0
    * dimensions for non-GIF containers or absent metadata. */
  private def canvasSize(reader: javax.imageio.ImageReader): (Int, Int) = {
    val fromStream =
      try {
        val root = reader.getStreamMetadata
          .getAsTree("javax_imageio_gif_stream_1.0")
          .asInstanceOf[org.w3c.dom.Element]
        val nl = root.getElementsByTagName("LogicalScreenDescriptor")
        if (nl.getLength > 0) {
          val e = nl.item(0).asInstanceOf[org.w3c.dom.Element]
          val w = e.getAttribute("logicalScreenWidth").toInt
          val h = e.getAttribute("logicalScreenHeight").toInt
          if (w > 0 && h > 0) Some((w, h)) else None
        } else None
      } catch { case _: Exception => None }
    fromStream.getOrElse((reader.getWidth(0), reader.getHeight(0)))
  }

  /** dHashes of the `k` evenly-sampled frames (sample j = frame
    * ⌊j·n/k⌋) plus the frame count; None on anything undecodable or a
    * logical screen beyond [[ImagePixels.maxPixels]] (keep path, never
    * a throw).
    *
    * `composite = true` (default) replays the GIF89a disposal spec:
    * each stored frame draws at its (left, top) offset onto a
    * logical-screen canvas — transparent pixels leave the underlying
    * canvas visible — and after hashing, `restoreToBackgroundColor`
    * clears the frame's rectangle while `restoreToPrevious` rewinds
    * the canvas; the hash therefore fingerprints what a PLAYER shows,
    * so delta-encoded (partial-frame) GIFs collide with the full-frame
    * encode of the same content. Delta replay requires decoding every
    * frame up to the last sampled index, not only the k samples.
    * `composite = false` keeps the raw per-frame path (each stored
    * frame hashed in isolation — only correct for full-frame encodes,
    * but it skips unsampled frames). */
  def sampledHashes(bytes: Array[Byte], k: Int,
                    composite: Boolean = true): Option[(Int, Seq[Long])] = {
    require(k >= 1, "sampledHashes: k must be positive")
    if (bytes == null || bytes.isEmpty) return None
    var reader: javax.imageio.ImageReader = null
    var probeStream: javax.imageio.stream.ImageInputStream = null
    var readStream: javax.imageio.stream.ImageInputStream = null
    try {
      probeStream = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      val it = javax.imageio.ImageIO.getImageReaders(probeStream)
      if (!it.hasNext) return None
      reader = it.next()
      readStream = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      reader.setInput(readStream)
      val n = reader.getNumImages(true)
      if (n < 1) return None
      val sampleIdx = (0 until k).map(j => (j.toLong * n / k).toInt)
      if (!composite) {
        return Some((n, sampleIdx.map(i => ImagePixels.dHash64(reader.read(i)))))
      }
      val (cw, ch) = canvasSize(reader)
      if (cw < 1 || ch < 1 || cw.toLong * ch > ImagePixels.maxPixels)
        return None
      val canvas = new BufferedImage(cw, ch, BufferedImage.TYPE_INT_RGB)
      val g = canvas.createGraphics()
      try {
        val wanted = sampleIdx.toSet
        val hashAt = scala.collection.mutable.Map.empty[Int, Long]
        var prev: BufferedImage = null
        var f = 0
        val lastNeeded = sampleIdx.max
        while (f <= lastNeeded) {
          val fm = frameMeta(reader, f)
          if (fm.disposal == "restoreToPrevious") {
            prev = new BufferedImage(cw, ch, BufferedImage.TYPE_INT_RGB)
            val pg = prev.createGraphics()
            try pg.drawImage(canvas, 0, 0, null) finally pg.dispose()
          }
          val frame = reader.read(f)
          g.drawImage(frame, fm.left, fm.top, null)
          if (wanted(f)) hashAt(f) = ImagePixels.dHash64(canvas)
          fm.disposal match {
            case "restoreToBackgroundColor" =>
              // Deterministic background: clear the frame's rect to
              // black (the canvas's initial state).
              g.setColor(java.awt.Color.BLACK)
              g.fillRect(fm.left, fm.top, frame.getWidth, frame.getHeight)
            case "restoreToPrevious" if prev != null =>
              g.drawImage(prev, 0, 0, null)
            case _ => ()
          }
          f += 1
        }
        Some((n, sampleIdx.map(hashAt)))
      } finally g.dispose()
    } catch {
      case _: Exception => None
    } finally {
      if (reader != null) reader.dispose()
      // dispose() does NOT close the reader's input; with ImageIO's
      // default file-cache-backed streams an unclosed stream leaks a
      // temp file + native handle per row until JVM exit.
      if (readStream != null)
        try readStream.close() catch { case _: Exception => () }
      if (probeStream != null)
        try probeStream.close() catch { case _: Exception => () }
    }
  }

  /** `(idCol, n_frames, sample_idx, fhash)` — one row per sampled
    * position per decodable video; an undecodable payload keeps as ONE
    * all-null row. Decode runs per partition; `composite` as in
    * [[sampledHashes]]. */
  def videoHashFrame(df: DataFrame, idCol: String, payloadCol: String,
                     k: Int = 8): DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("n_frames", IntegerType),
      StructField("sample_idx", IntegerType),
      StructField("fhash", LongType)))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      it.flatMap { r =>
        sampledHashes(r.getAs[Array[Byte]](1), k) match {
          case Some((n, hs)) =>
            hs.zipWithIndex.map { case (h, j) => Row(r.getLong(0), n, j, h) }
          case None => Seq(Row(r.getLong(0), null, null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Video near-dup pairs `(idCol_a, idCol_b, n_matched)`: sampled
    * positions pair per-index through the chunk-pigeonhole join at
    * hamming ≤ 4, and a video pair qualifies when ≥ 4 of its 8 sampled
    * positions match (half — a half-overlapping cut sits exactly at the
    * fence). Reads an already-computed `(idCol, sample_idx, fhash)`
    * frame from [[videoHashFrame]] at k = 8, null-hash rows
    * excluded. */
  def videoNearDupsFromHashes(hashes: DataFrame,
                              idCol: String): DataFrame = {
    // 8 sampled frames; a pair needs a majority of them within hamming 4
    val (maxDist, minMatches) = (4, 4)
    val chunks = hashes.select(col(idCol), col("sample_idx"), col("fhash"),
        posexplode(transform(sequence(lit(0), lit(7)), i =>
          call_function("shiftright", col("fhash"), i * lit(8))
            .bitwiseAND(lit(0xFFL)))))
      .toDF(idCol, "sample_idx", "fhash", "chunk_idx", "chunk")
    val a = chunks.toDF(s"${idCol}_a", "sample_idx", "fhash_a",
      "chunk_idx", "chunk")
    val b = chunks.toDF(s"${idCol}_b", "sample_idx", "fhash_b",
      "chunk_idx", "chunk")
    a.join(b, Seq("sample_idx", "chunk_idx", "chunk"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      .select(col(s"${idCol}_a"), col(s"${idCol}_b"), col("sample_idx"),
        bit_count(col("fhash_a").bitwiseXOR(col("fhash_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
      .groupBy(col(s"${idCol}_a"), col(s"${idCol}_b"))
      .agg(count(lit(1)).as("n_matched"))
      .filter(col("n_matched") >= minMatches)
  }

  // --- Delta-frame (GIF89a disposal) encode -----------------------------

  /** One STORED frame of a delta-encoded GIF: the pixels, their
    * placement on the logical screen, and the disposal applied after
    * the frame shows ("none" | "doNotDispose" |
    * "restoreToBackgroundColor" | "restoreToPrevious"). */
  final case class DeltaFrame(img: BufferedImage, left: Int, top: Int,
                              disposal: String = "doNotDispose")

  private def childNode(root: javax.imageio.metadata.IIOMetadataNode,
                        name: String): javax.imageio.metadata.IIOMetadataNode = {
    var c = root.getFirstChild
    while (c != null) {
      if (c.getNodeName == name)
        return c.asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      c = c.getNextSibling
    }
    val created = new javax.imageio.metadata.IIOMetadataNode(name)
    root.appendChild(created)
    created
  }

  /** Encode a REAL delta-frame animated GIF: an explicit logical
    * screen plus partial frames at offsets with per-frame disposal —
    * what optimized GIFs on a real crawl look like, and what the
    * compositing read path exists to decode correctly. Frame metadata
    * is written through the `javax_imageio_gif_image_1.0` tree
    * (ImageDescriptor position + GraphicControlExtension disposal). */
  def encodeDeltaGif(screenW: Int, screenH: Int,
                     frames: Seq[DeltaFrame]): Array[Byte] = {
    require(frames.nonEmpty, "encodeDeltaGif: need at least one frame")
    val bos = new java.io.ByteArrayOutputStream()
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val param = writer.getDefaultWriteParam
      val sFmt = "javax_imageio_gif_stream_1.0"
      val smd = writer.getDefaultStreamMetadata(param)
      val sRoot = smd.getAsTree(sFmt)
        .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
      val lsd = childNode(sRoot, "LogicalScreenDescriptor")
      lsd.setAttribute("logicalScreenWidth", screenW.toString)
      lsd.setAttribute("logicalScreenHeight", screenH.toString)
      if (lsd.getAttribute("colorResolution").isEmpty)
        lsd.setAttribute("colorResolution", "8")
      if (lsd.getAttribute("pixelAspectRatio").isEmpty)
        lsd.setAttribute("pixelAspectRatio", "0")
      smd.setFromTree(sFmt, sRoot)
      writer.prepareWriteSequence(smd)
      frames.foreach { df =>
        val iFmt = "javax_imageio_gif_image_1.0"
        val imd = writer.getDefaultImageMetadata(
          javax.imageio.ImageTypeSpecifier.createFromRenderedImage(df.img),
          param)
        val root = imd.getAsTree(iFmt)
          .asInstanceOf[javax.imageio.metadata.IIOMetadataNode]
        val desc = childNode(root, "ImageDescriptor")
        desc.setAttribute("imageLeftPosition", df.left.toString)
        desc.setAttribute("imageTopPosition", df.top.toString)
        desc.setAttribute("imageWidth", df.img.getWidth.toString)
        desc.setAttribute("imageHeight", df.img.getHeight.toString)
        if (desc.getAttribute("interlaceFlag").isEmpty)
          desc.setAttribute("interlaceFlag", "FALSE")
        val gce = childNode(root, "GraphicControlExtension")
        gce.setAttribute("disposalMethod", df.disposal)
        if (gce.getAttribute("userInputFlag").isEmpty)
          gce.setAttribute("userInputFlag", "FALSE")
        if (gce.getAttribute("transparentColorFlag").isEmpty)
          gce.setAttribute("transparentColorFlag", "FALSE")
        if (gce.getAttribute("delayTime").isEmpty)
          gce.setAttribute("delayTime", "0")
        if (gce.getAttribute("transparentColorIndex").isEmpty)
          gce.setAttribute("transparentColorIndex", "0")
        imd.setFromTree(iFmt, root)
        writer.writeToSequence(
          new javax.imageio.IIOImage(df.img, null, imd), param)
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  // --- Delta fixture content ---------------------------------------------
  // A static background with one fixed CHANGING patch — content whose
  // honest delta encode stores only the patch after frame 0, so the
  // composited read path is exercised for real (a full-frame delta
  // would prove nothing).

  /** Patch geometry for a `w × h` screen: (left, top, pw, ph) — grid-
    * interior so patch edges never align with the 9×8 dHash cells. */
  def deltaPatchRect(w: Int, h: Int): (Int, Int, Int, Int) =
    (w / 4 + 1, h / 4 + 1, w / 3, h / 3)

  /** The full CONTENT of frame `f`: the seed's static base pattern
    * with the frame-keyed patch drawn at the fixed rect. */
  def deltaContentFrame(seed: Long, f: Int, w: Int, h: Int): BufferedImage = {
    val img = ImagePixels.renderImage(seed, w, h)
    val (px, py, pw, ph) = deltaPatchRect(w, h)
    val patch = ImagePixels.renderImage(seed * 1000003L + f, pw, ph)
    val g = img.createGraphics()
    try g.drawImage(patch, px, py, null) finally g.dispose()
    img
  }

  /** Delta-encoded payload for the SAME content as
    * [[fullGifPayload]]: frame 0 full, every later frame stores only
    * the patch rect with `doNotDispose` disposal. */
  def deltaGifPayload(seed: Long, nFrames: Int, w: Int, h: Int): Array[Byte] = {
    val (px, py, pw, ph) = deltaPatchRect(w, h)
    val frames = DeltaFrame(deltaContentFrame(seed, 0, w, h), 0, 0,
      "doNotDispose") +:
      (1 until nFrames).map { f =>
        DeltaFrame(ImagePixels.renderImage(seed * 1000003L + f, pw, ph),
          px, py, "doNotDispose")
      }
    encodeDeltaGif(w, h, frames)
  }

  /** Full-frame encode of the same content — the equivalence oracle
    * for [[deltaGifPayload]]. */
  def fullGifPayload(seed: Long, nFrames: Int, w: Int, h: Int): Array[Byte] =
    encodeAnimatedGif((0 until nFrames).map(deltaContentFrame(seed, _, w, h)))

  /** `(media_id, payload)` fixture frame of delta- or full-frame
    * encodes of the SAME per-seed content (`delta` selects), pattern
    * keyed by the ORIGINAL id, media_id = id + `idOffset`. */
  def deltaFixtureFrame(df: DataFrame, idCol: String, nFrames: Int, w: Int,
                        h: Int, delta: Boolean, idOffset: Long = 0L)
      : DataFrame = {
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rdd = df.select(col(idCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id + idOffset,
          if (delta) deltaGifPayload(id, nFrames, w, h)
          else fullGifPayload(id, nFrames, w, h))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic animated-GIF payload: `nFrames` frames of the
    * [[ImagePixels.renderImage]] pattern keyed by `(seed, frame)`;
    * frames ≥ `divergeFrom` re-key with an offset seed (the
    * half-overlap fixture). `truncateTo >= 0` keeps only that many
    * leading bytes. */
  def gifPayload(seed: Long, nFrames: Int, w: Int, h: Int, shift: Int = 0,
                 rate: Int = 1, divergeFrom: Int = Int.MaxValue,
                 truncateTo: Int = -1): Array[Byte] = {
    require(rate >= 1, "gifPayload: rate must be >= 1")
    val frames = (0 until nFrames).flatMap { f =>
      val s = if (f >= divergeFrom) seed + 500000L else seed
      Seq.fill(rate)(ImagePixels.renderImage(s * 1000003L + f, w, h, shift))
    }
    val bytes = encodeAnimatedGif(frames)
    if (truncateTo >= 0) bytes.take(truncateTo) else bytes
  }

  /** `(media_id, payload)` animated-GIF fixture frame — the
    * [[ImagePixels.fixtureFrame]] shape; `rate` duplicates every frame
    * that many times (the frame-rate-change clone). */
  def fixtureFrame(df: DataFrame, idCol: String, nFrames: Int, w: Int,
                   h: Int, shift: Int = 0, rate: Int = 1,
                   idOffset: Long = 0L, divergeFrom: Int = Int.MaxValue,
                   truncateTo: Int = -1): DataFrame = {
    require(rate >= 1, "fixtureFrame: rate must be >= 1")
    val spark = df.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val rdd = df.select(col(idCol)).rdd.mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        Row(id + idOffset, gifPayload(id, nFrames, w, h, shift, rate,
          divergeFrom, truncateTo))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
