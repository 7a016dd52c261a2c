package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Real pixel decode + perceptual dHash: exact bit semantics, keep path
  * for corrupt payloads, clone invariances, exhaustive pair recount. */
class ImagePixelsSpec extends SparkSpec {
  import spark.implicits._

  private def gray(l: Int): Int = (l << 16) | (l << 8) | l

  test("dHash bits follow strict left<right cell comparisons exactly") {
    // 9 columns of strictly increasing luminance -> all 64 bits set
    val up = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) up.setRGB(x, y, gray(x * 20))
    assert(ImagePixels.dHash64(up) == -1L)
    // decreasing -> no bit set; constant -> no bit set (strict <)
    val down = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) down.setRGB(x, y, gray(200 - x * 20))
    assert(ImagePixels.dHash64(down) == 0L)
    val flat = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) flat.setRGB(x, y, gray(7))
    assert(ImagePixels.dHash64(flat) == 0L)
    // one row's single comparison flips exactly one bit (row 3, col 5)
    val one = new java.awt.image.BufferedImage(9, 8,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 8; x <- 0 until 9) one.setRGB(x, y, gray(7))
    one.setRGB(6, 3, gray(8))
    assert(ImagePixels.dHash64(one) == (1L << (3 * 8 + 5)))
  }

  test("decode keep path: null, empty, truncated, and garbage payloads " +
      "yield None; dhashFrame keeps them as null-hash rows") {
    assert(ImagePixels.decode(null).isEmpty)
    assert(ImagePixels.decode(Array.emptyByteArray).isEmpty)
    val png = ImagePixels.fixturePayload(1L, 36, 32, "png")
    assert(ImagePixels.decode(png.take(12)).isEmpty) // truncated header
    assert(ImagePixels.decode("not an image".getBytes).isEmpty)
    val rows = Seq((1L, png), (2L, png.take(12)),
      (3L, "garbage".getBytes)).toDF("media_id", "payload")
    val got = ImagePixels.dhashFrame(rows, "media_id", "payload")
      .orderBy($"media_id")
      .select($"media_id", $"dhash".isNull, $"width")
      .as[(Long, Boolean, Option[Int])].collect().toSeq
    assert(got == Seq((1L, false, Some(36)), (2L, true, None),
      (3L, true, None)))
  }

  test("clone invariances: a cell-aligned 2x resize + brightness shift + " +
      "BMP re-encode reproduces the PNG original's hash exactly") {
    (0L until 24L).foreach { seed =>
      val orig = ImagePixels.dHashOf(
        ImagePixels.fixturePayload(seed, 72, 64, "png")).get
      val clone = ImagePixels.dHashOf(
        ImagePixels.fixturePayload(seed, 144, 128, "bmp", shift = 3)).get
      assert(orig == clone, s"seed $seed")
      // and the encode/decode round trip matches the in-memory render
      assert(orig == ImagePixels.dHash64(
        ImagePixels.renderImage(seed, 72, 64)), s"seed $seed render")
    }
  }

  test("pixelFingerprint: identical pixels fingerprint identically across " +
      "containers while raw payload bytes differ; resize and pattern " +
      "changes separate; corrupt payloads keep as null rows") {
    val png = ImagePixels.fixturePayload(9L, 72, 64, "png")
    val bmp = ImagePixels.fixturePayload(9L, 72, 64, "bmp")
    assert(!java.util.Arrays.equals(png, bmp)) // different container bytes
    val fp = ImagePixels.pixelFingerprint(png).get
    assert(fp == ImagePixels.pixelFingerprint(bmp).get)
    // different size or pattern -> different pixels -> different fp
    assert(fp != ImagePixels.pixelFingerprint(
      ImagePixels.fixturePayload(9L, 144, 128, "png")).get)
    assert(fp != ImagePixels.pixelFingerprint(
      ImagePixels.fixturePayload(10L, 72, 64, "png")).get)
    assert(ImagePixels.pixelFingerprint(png.take(12)).isEmpty)
    val rows = Seq((1L, png), (2L, bmp), (3L, png.take(12)))
      .toDF("media_id", "payload")
    val got = ImagePixels.fingerprintFrame(rows, "media_id", "payload")
      .orderBy($"media_id")
      .as[(Long, Option[String])].collect().toSeq
    assert(got == Seq((1L, Some(fp)), (2L, Some(fp)), (3L, None)))
  }

  test("divergeRows re-rolls ONLY its own 8-bit dHash band — the " +
      "controlled-partial-edit fixture for chain/closure gates") {
    (0L until 8L).foreach { seed =>
      val o = ImagePixels.dHashOf(
        ImagePixels.fixturePayload(seed, 72, 64, "png")).get
      val x = ImagePixels.dHashOf(ImagePixels.fixturePayload(
        seed, 72, 64, "png", divergeRows = Seq(2))).get
      val y = ImagePixels.dHashOf(ImagePixels.fixturePayload(
        seed, 72, 64, "png", divergeRows = Seq(2, 5))).get
      val row2 = 0xFFL << (2 * 8)
      val row5 = 0xFFL << (5 * 8)
      assert(((o ^ x) & ~row2) == 0L, s"seed $seed: X leaked outside row 2")
      assert(((x ^ y) & ~row5) == 0L, s"seed $seed: Y leaked outside row 5")
      // the two edits stack on disjoint bands: d(O,Y) = d(O,X) + d(X,Y)
      assert(java.lang.Long.bitCount(o ^ y) ==
        java.lang.Long.bitCount(o ^ x) + java.lang.Long.bitCount(x ^ y))
    }
  }

  test("distinct pattern seeds separate far beyond the pairing fence") {
    val hs = (0L until 24L).map(s => ImagePixels.dHashOf(
      ImagePixels.fixturePayload(s, 72, 64, "png")).get)
    val minDist = (for {
      i <- hs.indices; j <- hs.indices if i < j
    } yield java.lang.Long.bitCount(hs(i) ^ hs(j))).min
    assert(minDist > 8, s"cross-seed min hamming $minDist too small")
  }

  test("imageNearDups equals the exhaustive driver recount on a planted " +
      "clone corpus and drops only undecodable rows") {
    val ids = (0L until 24L).toDF("id")
    val originals = ImagePixels.fixtureFrame(ids, "id", 72, 64, "png")
    val clones = ImagePixels.fixtureFrame(
      ids.filter($"id" % 3 === 0), "id", 144, 128, "bmp",
      shift = 3, idOffset = 100000L)
    val corrupt = ImagePixels.fixtureFrame(
      ids.filter($"id" === 0), "id", 36, 32, "png",
      idOffset = 999999L, truncateTo = 12)
    val media = originals.unionByName(clones).unionByName(corrupt)
    val got = ImagePixels.imageNearDups(media, "media_id", "payload")
      .as[(Long, Long, Int)].collect().toSet
    // driver recount over every decodable payload
    val hs = ((0L until 24L).map(s => s ->
        ImagePixels.dHashOf(ImagePixels.fixturePayload(s, 72, 64, "png")).get)
      ++ (0L until 24L).filter(_ % 3 == 0).map(s => (s + 100000L) ->
        ImagePixels.dHashOf(
          ImagePixels.fixturePayload(s, 144, 128, "bmp", shift = 3)).get))
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= 4
    } yield (a, b, d)).toSet
    assert(got == want)
    assert(want.size == 8) // each clone pairs its original, nothing else
    assert(want.forall { case (a, b, d) => b - a == 100000L && d == 0 })
  }

  test("a decodable decompression-bomb image beyond the maxPixels fence " +
      "routes to the null-hash keep path, never an executor throw") {
    // an all-black 16390x16384 grayscale PNG: a few hundred KB of
    // payload that decodes to 268.5M pixels — just over the 2^28 fence
    val w = 16390
    val h = 16384
    assert(w.toLong * h > ImagePixels.maxPixels)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val bomb = ImagePixels.encodeImage(img, "png")
    assert(bomb.length < (1 << 21), "bomb payload should be small")
    assert(ImagePixels.decode(bomb).isDefined, "the bomb DOES decode")
    assert(ImagePixels.dHashOf(bomb).isEmpty)
    assert(ImagePixels.pixelFingerprint(bomb).isEmpty)
    val media = Seq((1L, bomb),
      (2L, ImagePixels.fixturePayload(2L, 36, 32, "png")))
      .toDF("media_id", "payload")
    val dh = ImagePixels.dhashFrame(media, "media_id", "payload").collect()
    assert(dh.count(_.isNullAt(1)) == 1 && dh.count(!_.isNullAt(1)) == 1)
    val fp = ImagePixels.fingerprintFrame(media, "media_id", "payload")
      .collect()
    assert(fp.count(_.isNullAt(1)) == 1 && fp.count(!_.isNullAt(1)) == 1)
  }

  test("the maxPixels fence fires on the HEADER, before the raster is " +
      "allocated: a bomb whose decode would need ~40 GB rejects fast") {
    // handcrafted PNG: signature + IHDR declaring 200000x200000 + empty
    // IDAT + IEND. Only the header need parse — probeDims reads IHDR and
    // decodeBounded must reject WITHOUT calling ImageIO.read (a real
    // read of 4e10 gray pixels would OOM this JVM long before any
    // post-decode filter ran).
    def chunk(typ: String, data: Array[Byte]): Array[Byte] = {
      val len = java.nio.ByteBuffer.allocate(4).putInt(data.length).array()
      val body = typ.getBytes("US-ASCII") ++ data
      val crc = new java.util.zip.CRC32(); crc.update(body)
      len ++ body ++
        java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array()
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(200000).putInt(200000)
      .put(8.toByte).put(0.toByte) // 8-bit grayscale
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    val megabomb = sig ++ chunk("IHDR", ihdr) ++
      chunk("IDAT", Array.emptyByteArray) ++
      chunk("IEND", Array.emptyByteArray)
    assert(ImagePixels.probeDims(megabomb).contains((200000, 200000)))
    assert(ImagePixels.decodeBounded(megabomb).isEmpty)
    assert(ImagePixels.dHashOf(megabomb).isEmpty)
    // probe agrees with decode on a real payload, and keeps on garbage
    val ok = ImagePixels.fixturePayload(7L, 36, 32, "png")
    assert(ImagePixels.probeDims(ok).contains((36, 32)))
    assert(ImagePixels.probeDims("not an image".getBytes).isEmpty)
    assert(ImagePixels.probeDims(null).isEmpty)
  }
}
