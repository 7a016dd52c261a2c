package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Multi-frame video fingerprinting: pixel-exact GIF round trips,
  * rate/size/brightness clone invariances, half-overlap fence,
  * keep paths, exhaustive pair recount. */
class VideoFramesSpec extends SparkSpec {
  import spark.implicits._

  test("sampled hashes decode pixel-exactly: every sampled position " +
      "equals the driver dHash of its rendered source frame") {
    val bytes = VideoFrames.gifPayload(7L, nFrames = 12, 36, 32)
    val Some((n, hs)) = VideoFrames.sampledHashes(bytes, k = 8)
    assert(n == 12 && hs.length == 8)
    hs.zipWithIndex.foreach { case (h, j) =>
      val frame = (j.toLong * 12 / 8).toInt
      assert(h == ImagePixels.dHash64(
        ImagePixels.renderImage(7L * 1000003L + frame, 36, 32)), s"pos $j")
    }
  }

  test("clone invariances: upscaled, frame-rate-doubled, brightness-" +
      "shifted re-encodes sample identical hashes at every position") {
    (0L until 6L).foreach { seed =>
      val orig = VideoFrames.sampledHashes(
        VideoFrames.gifPayload(seed, 12, 72, 64), 8).get
      val clone = VideoFrames.sampledHashes(
        VideoFrames.gifPayload(seed, 12, 144, 128, shift = 3, rate = 2), 8)
        .get
      assert(clone._1 == 24 && orig._2 == clone._2, s"seed $seed")
    }
  }

  test("undecodable payloads keep as one null row and never pair") {
    val good = VideoFrames.gifPayload(1L, 4, 36, 32)
    val rows = Seq((1L, good), (2L, good.take(15)),
      (3L, "not a gif".getBytes ++ new Array[Byte](40)))
      .toDF("media_id", "payload")
    val hashes = VideoFrames.videoHashFrame(rows, "media_id", "payload", 4)
    val nulls = hashes.filter($"fhash".isNull)
      .select($"media_id").as[Long].collect().toSet
    assert(nulls == Set(2L, 3L))
    assert(hashes.filter($"fhash".isNotNull).count() == 4L)
  }

  test("half-diverged copies sit exactly at the ceil(k/2) fence; exact " +
      "clones match all positions; recount equals the driver reference") {
    val ids = (0L until 6L).toDF("id")
    val media = VideoFrames.fixtureFrame(ids, "id", 12, 72, 64)
      .unionByName(VideoFrames.fixtureFrame(ids.filter($"id" === 0),
        "id", 12, 144, 128, shift = 3, rate = 2, idOffset = 100L))
      .unionByName(VideoFrames.fixtureFrame(ids.filter($"id" === 1),
        "id", 12, 72, 64, idOffset = 200L, divergeFrom = 6))
    val got = VideoFrames.videoNearDupsFromHashes(
        VideoFrames.videoHashFrame(media, "media_id", "payload", k = 8)
          .filter($"fhash".isNotNull),
        "media_id")
      .as[(Long, Long, Long)].collect().toSet
    // driver recount over all decodable videos
    val specs = (0L until 6L).map(s => s -> (s, 72, 64, 0, 1, Int.MaxValue)) ++
      Seq(100L -> ((0L, 144, 128, 3, 2, Int.MaxValue)),
        201L -> ((1L, 72, 64, 0, 1, 6)))
    val hs = specs.map { case (id, (seed, w, h, sh, rate, div)) =>
      id -> VideoFrames.sampledHashes(
        VideoFrames.gifPayload(seed, 12, w, h, sh, rate, div), 8).get._2
    }
    val want = (for {
      (a, ha) <- hs; (b, hb) <- hs if a < b
      m = ha.zip(hb).count { case (x, y) =>
        java.lang.Long.bitCount(x ^ y) <= 4 }
      if m >= 4
    } yield (a, b, m.toLong)).toSet
    assert(got == want)
    // the exact clone matches all 8; the half-diverged copy exactly 4
    assert(want.contains((0L, 100L, 8L)))
    assert(want.contains((1L, 201L, 4L)))
  }

  test("delta-frame GIFs composite to the full-frame encode of the same " +
      "content; the raw path diverges; the delta encode is smaller") {
    (0L until 4L).foreach { seed =>
      val delta = VideoFrames.deltaGifPayload(seed, 12, 72, 64)
      val full = VideoFrames.fullGifPayload(seed, 12, 72, 64)
      assert(delta.length < full.length, s"seed $seed: not a real delta")
      val dh = VideoFrames.sampledHashes(delta, 8)
      val fh = VideoFrames.sampledHashes(full, 8)
      assert(dh == fh, s"seed $seed: composited decode diverged")
      // and both equal the renderer-level content fingerprint
      val content = (0 until 8).map(j => ImagePixels.dHash64(
        VideoFrames.deltaContentFrame(seed, (j.toLong * 12 / 8).toInt,
          72, 64)))
      assert(fh.get._2 == content, s"seed $seed: content drift")
      // the raw per-stored-frame path hashes the PATCH, not the screen
      assert(VideoFrames.sampledHashes(delta, 8, composite = false) != dh,
        s"seed $seed: raw path should diverge on a delta encode")
    }
  }

  test("restoreToBackgroundColor clears the frame rect; restoreToPrevious " +
      "rewinds the canvas — per the GIF89a disposal spec") {
    val base = VideoFrames.deltaContentFrame(3L, 0, 72, 64)
    val patch = ImagePixels.renderImage(991L, 24, 21)
    // frame 0 shows base then clears the patch rect to black; frame 1
    // is a 1x1 no-op so the cleared canvas is observable at a sample
    val bg = VideoFrames.encodeDeltaGif(72, 64, Seq(
      VideoFrames.DeltaFrame(base, 0, 0, "restoreToBackgroundColor"),
      VideoFrames.DeltaFrame(ImagePixels.renderImage(5L, 1, 1), 0, 0,
        "doNotDispose")))
    val bgHs = VideoFrames.sampledHashes(bg, 2).get._2
    val expectCleared = {
      val img = VideoFrames.deltaContentFrame(3L, 0, 72, 64)
      val g = img.createGraphics()
      try {
        g.setColor(java.awt.Color.BLACK)
        g.fillRect(0, 0, 72, 64)
      } finally g.dispose()
      val pg = img.createGraphics()
      try pg.drawImage(ImagePixels.renderImage(5L, 1, 1), 0, 0, null)
      finally pg.dispose()
      ImagePixels.dHash64(img)
    }
    assert(bgHs(0) == ImagePixels.dHash64(base))
    assert(bgHs(1) == expectCleared)
    // restoreToPrevious: an overlay flash frame leaves no trace
    val flash = VideoFrames.encodeDeltaGif(72, 64, Seq(
      VideoFrames.DeltaFrame(base, 0, 0, "doNotDispose"),
      VideoFrames.DeltaFrame(patch, 9, 7, "restoreToPrevious"),
      VideoFrames.DeltaFrame(ImagePixels.renderImage(5L, 1, 1), 0, 0,
        "doNotDispose")))
    val fHs = VideoFrames.sampledHashes(flash, 3).get._2
    assert(fHs(0) == ImagePixels.dHash64(base))
    assert(fHs(0) != fHs(1), "the flash frame must show the overlay")
    val basePlusDot = {
      val img = VideoFrames.deltaContentFrame(3L, 0, 72, 64)
      val g = img.createGraphics()
      try g.drawImage(ImagePixels.renderImage(5L, 1, 1), 0, 0, null)
      finally g.dispose()
      ImagePixels.dHash64(img)
    }
    assert(fHs(2) == basePlusDot, "restoreToPrevious must rewind the flash")
  }

  test("corrupt-metadata keep path: truncated delta payloads and non-GIF " +
      "bytes survive as one null row; streams do not leak on either path") {
    val delta = VideoFrames.deltaGifPayload(1L, 6, 36, 32)
    assert(VideoFrames.sampledHashes(delta.take(30), 4).isEmpty)
    // mid-stream truncation SALVAGES the complete leading frames (no
    // crash, no hang): whatever n the reader reports, every sampled
    // hash equals the composited content at that position
    VideoFrames.sampledHashes(delta.take(delta.length / 2), 4) match {
      case Some((n, hs)) =>
        assert(n >= 1 && n < 6)
        hs.zipWithIndex.foreach { case (fh, j) =>
          val f = (j.toLong * n / 4).toInt
          assert(fh == ImagePixels.dHash64(
            VideoFrames.deltaContentFrame(1L, f, 36, 32)), s"pos $j")
        }
      case None => () // full rejection is also a valid keep path
    }
    val rows = VideoFrames.videoHashFrame(
      Seq((1L, delta), (2L, delta.take(30))).toDF("media_id", "payload"),
      "media_id", "payload", k = 4).collect()
    assert(rows.count(_.isNullAt(3)) == 1)
    assert(rows.count(!_.isNullAt(3)) == 4)
  }
}
