package graft.multimodal

import graft.SparkSpec

/** Matroska/WebM track identity: re-muxes (recursed clusters, lacing,
  * timescale, pads) collide, different content separates, malformations
  * keep as None. */
class WebmTracksSpec extends SparkSpec {
  import spark.implicits._

  test("parse reads tracks, codecs, frame counts, and exact duration") {
    val m = WebmTracks.parse(WebmTracks.webmPayload(7L, nFrames = 12)).get
    assert(m.timestampScale == 1000000L && m.durationMs == 10000L)
    assert(m.tracks.map(_.codecId) == Seq("V_VP9", "A_OPUS"))
    assert(m.tracks.map(_.trackType) == Seq(1, 2))
    val (vid, aud) = WebmTracks.fixtureFrames(7L, 12)
    assert(m.tracks(0).nFrames == 12L &&
      m.tracks(0).frameBytes == vid.map(_.length.toLong).sum)
    assert(m.tracks(1).nFrames == 12L &&
      m.tracks(1).frameBytes == aud.map(_.length.toLong).sum)
  }

  test("a re-mux (one big cluster, Xiph-laced audio, doubled timescale, " +
      "Void pad) collides on the stream fingerprint; different content " +
      "separates") {
    val a = WebmTracks.parse(WebmTracks.webmPayload(3L)).get
    val b = WebmTracks.parse(WebmTracks.webmPayload(3L, remux = true)).get
    // the containers genuinely differ...
    assert(a.timestampScale != b.timestampScale)
    assert(WebmTracks.webmPayload(3L).length !=
      WebmTracks.webmPayload(3L, remux = true).length)
    // ...but wall duration, per-track frames, and identity agree
    assert(a.durationMs == b.durationMs)
    assert(a.tracks.map(t => (t.number, t.nFrames, t.frameBytes)) ==
      b.tracks.map(t => (t.number, t.nFrames, t.frameBytes)))
    assert(WebmTracks.streamFingerprint(a) == WebmTracks.streamFingerprint(b))
    val c = WebmTracks.parse(WebmTracks.webmPayload(4L)).get
    assert(WebmTracks.streamFingerprint(a) != WebmTracks.streamFingerprint(c))
    val d = WebmTracks.parse(WebmTracks.webmPayload(3L, nFrames = 11)).get
    assert(WebmTracks.streamFingerprint(a) != WebmTracks.streamFingerprint(d))
  }

  test("keep paths: truncation, non-EBML bytes, an element overrunning " +
      "its parent, and a block naming an undeclared track parse to None") {
    val good = WebmTracks.webmPayload(5L)
    assert(WebmTracks.parse(good).isDefined)
    Seq(0, 3, 30, good.length / 2, good.length - 5).foreach { cut =>
      assert(WebmTracks.parse(good.take(cut)).isEmpty, s"cut=$cut")
    }
    assert(WebmTracks.parse(null).isEmpty)
    assert(WebmTracks.parse("definitely not matroska".getBytes).isEmpty)
    // a SimpleBlock whose track varint names an undeclared track
    val rogue = good.clone()
    // find the first SimpleBlock (0xA3) and bump its 1-byte track varint
    var i = 0
    var found = -1
    while (found < 0 && i + 1 < rogue.length) {
      if ((rogue(i) & 0xFF) == 0xA3 &&
        (rogue(i + 2) & 0xFF) >= 0x81 && (rogue(i + 2) & 0xFF) <= 0x82)
        found = i + 2
      i += 1
    }
    assert(found > 0)
    rogue(found) = 0x85.toByte // track 5: never declared
    assert(WebmTracks.parse(rogue).isEmpty)
  }

  /** [[WebmTracks.webmPayload]]'s non-remux layout with every AUDIO frame
    * in its own SINGLE-FRAME EBML-LACED SimpleBlock (lacing bits 11,
    * lace-count byte 0, ZERO size fields — Matroska encodes nFrames−1
    * sizes): the minimal legal EBML lace a re-muxer that always sets the
    * lacing flag emits. Same frames as the unlaced form. */
  private def ebmlSinglePayload(seed: Long, nFrames: Int = 12): Array[Byte] = {
    import WebmTracks._
    val (vid, aud) = fixtureFrames(seed, nFrames)
    val (header, info, tracksEl) = containerParts(seed, 10, 1000000L)
    def ebmlSingle(track: Long, frame: Array[Byte]): Array[Byte] =
      el(SIMPLE_BLOCK, sizeBytes(track),
        Array[Byte](0, 0, 0x86.toByte), // keyframe + EBML lacing (11)
        Array[Byte](0), frame)          // lace count 0 → one frame, no sizes
    val body = (0 until nFrames).flatMap(f =>
      el(CLUSTER, uintEl(0xE7L, f.toLong * 100L),
        simpleBlock(1L, vid(f)), ebmlSingle(2L, aud(f)))).toArray
    header ++ el(SEGMENT, info, tracksEl, body)
  }

  test("a single-frame EBML-laced block (lace count 0, zero size fields) " +
      "de-laces to the same payload as the unlaced form") {
    val a = WebmTracks.parse(WebmTracks.webmPayload(9L)).get
    val b = WebmTracks.parse(ebmlSinglePayload(9L)).get
    assert(b.tracks.map(t => (t.number, t.nFrames)) ==
      a.tracks.map(t => (t.number, t.nFrames)))
    assert(WebmTracks.streamFingerprint(a) == WebmTracks.streamFingerprint(b))
    val c = WebmTracks.parse(ebmlSinglePayload(10L)).get
    assert(WebmTracks.streamFingerprint(c) != WebmTracks.streamFingerprint(b))
  }

  test("webmFrame keeps unparsable rows as nulls in one distributed " +
      "pass") {
    val rows = Seq(
      (1L, WebmTracks.webmPayload(1L)),
      (2L, WebmTracks.webmPayload(1L, remux = true)),
      (3L, WebmTracks.webmPayload(2L)),
      (4L, WebmTracks.webmPayload(2L, truncateTo = 50)))
      .toDF("media_id", "payload")
    val got = WebmTracks.webmFrame(rows, "media_id", "payload")
      .select($"media_id", $"stream_fp", $"n_tracks", $"codecs")
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None
         else Some((r.getLong(1), r.getInt(2), r.getString(3))))).toMap
    assert(got(4L).isEmpty)
    assert(got(1L).isDefined && got(1L) == got(2L))
    assert(got(3L).isDefined && got(3L) != got(1L))
    assert(got(1L).get._3 == "V_VP9,A_OPUS")
  }
}
