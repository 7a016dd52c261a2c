package graft.multimodal

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** WARC container round trips: multi-member gzip, plain files, strict
  * framing, HTTP body split, HTML text extraction. */
class WarcArchivesSpec extends SparkSpec {
  import spark.implicits._

  private def page(id: Long, body: String): (Long, String, Array[Byte]) =
    (id, s"https://example.com/doc/$id",
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
        s"<html><body><p>$body</p></body></html>").getBytes("UTF-8"))

  test("gzip and plain WARC files round-trip through one scan; every " +
      "record is its own gzip member behind a warcinfo leader") {
    val dir = tempDir("warc").toString
    val rows = (0L until 10L).map(i => page(i, s"body $i"))
      .toDF("doc_id", "uri", "payload")
    val m1 = WarcArchives.writeWarcFiles(rows.filter($"doc_id" < 8),
      "doc_id", "uri", "payload", dir, recordsPerFile = 4)
    assert(m1.as[(Long, String, Long)].collect().map(_._3).toSeq ==
      Seq(4L, 4L))
    val m2 = WarcArchives.writeWarcFiles(rows.filter($"doc_id" >= 8),
      "doc_id", "uri", "payload", dir, recordsPerFile = 4,
      compress = false)
    assert(m2.count() == 1)
    // the .gz file really is member-per-record: N+1 gzip magics
    val gzBytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "part-000000.warc.gz"))
    val magics = gzBytes.indices.count(i => i + 1 < gzBytes.length &&
      (gzBytes(i) & 0xFF) == 0x1F && (gzBytes(i + 1) & 0xFF) == 0x8B)
    assert(magics >= 5) // warcinfo + 4 records (payload bytes could
                        // coincidentally contain the magic — lower bound)
    val recs = WarcArchives.readWarcRecords(spark, dir)
    assert(recs.filter($"warc_type" === "warcinfo").count() == 3)
    val resp = recs.filter($"warc_type" === "response")
      .select($"target_uri", WarcArchives.httpBodyText($"payload"))
      .as[(String, String)].collect().toMap
    assert(resp.keySet == (0L until 10L)
      .map(i => s"https://example.com/doc/$i").toSet)
    (0L until 10L).foreach { i =>
      assert(resp(s"https://example.com/doc/$i")
        == s"<html><body><p>body $i</p></body></html>")
    }
  }

  test("strict framing: truncation, a missing version line, and a " +
      "Content-Length overrun all fail loudly") {
    val rec = WarcArchives.warcRecordBytes(Seq(
      "WARC-Type" -> "response", "WARC-Target-URI" -> "u"),
      "hello".getBytes("UTF-8"))
    assert(WarcArchives.parseWarc(rec).map(_._1) == Seq("response"))
    intercept[IllegalStateException] {
      WarcArchives.parseWarc(rec.dropRight(9)) // payload cut short
    }
    intercept[IllegalStateException] {
      WarcArchives.parseWarc("HTTP/1.1 200 OK\r\n\r\n".getBytes("UTF-8"))
    }
    intercept[IllegalStateException] {
      WarcArchives.parseWarc(
        "WARC/1.0\r\nContent-Length: 999\r\n\r\nhi\r\n\r\n"
          .getBytes("UTF-8"))
    }
    // multi-member inflate is native: two concatenated members
    val two = WarcArchives.gzipMember(rec) ++ WarcArchives.gzipMember(rec)
    assert(WarcArchives.parseWarc(WarcArchives.gunzipAll(two)).size == 2)
  }

  test("gunzipAll fails loudly on a corrupt member boundary — the JDK " +
      "stream would silently drop every record after it") {
    val rec = WarcArchives.warcRecordBytes(Seq(
      "WARC-Type" -> "response", "WARC-Target-URI" -> "u"),
      "hello".getBytes("UTF-8"))
    val m1 = WarcArchives.gzipMember(rec)
    val m2 = WarcArchives.gzipMember(rec)
    // corrupt SECOND member's magic: GZIPInputStream reports clean EOF
    // after member 1 (silent tail loss); the member walk must throw
    val badMagic = m1 ++ m2.clone()
    badMagic(m1.length + 1) = 0x00
    val e1 = intercept[IllegalStateException](
      WarcArchives.gunzipAll(badMagic))
    assert(e1.getMessage.contains("not a gzip member"))
    // flipped CRC32 in the last member's trailer
    val badCrc = m1 ++ m2.clone()
    badCrc(badCrc.length - 5) = (badCrc(badCrc.length - 5) ^ 0xFF).toByte
    val e2 = intercept[IllegalStateException](WarcArchives.gunzipAll(badCrc))
    assert(e2.getMessage.contains("CRC32 mismatch"))
    // second member truncated mid-deflate
    val e3 = intercept[IllegalStateException](
      WarcArchives.gunzipAll(m1 ++ m2.dropRight(12)))
    assert(e3.getMessage.contains("truncated"))
    // ISIZE mismatch with a valid CRC is still rejected
    val badIsize = m1 ++ m2.clone()
    badIsize(badIsize.length - 1) = (badIsize(badIsize.length - 1) ^ 1).toByte
    val e4 = intercept[IllegalStateException](
      WarcArchives.gunzipAll(badIsize))
    assert(e4.getMessage.contains("ISIZE mismatch"))
    // intact multi-member (with an FNAME-flagged member in the middle)
    // still inflates everything
    val named = {
      val bos = new java.io.ByteArrayOutputStream()
      val params = new java.util.zip.Deflater(
        java.util.zip.Deflater.DEFAULT_COMPRESSION, true)
      params.setInput(rec); params.finish()
      val buf = new Array[Byte](1 << 16)
      val deflated = new java.io.ByteArrayOutputStream()
      while (!params.finished())
        deflated.write(buf, 0, params.deflate(buf))
      params.end()
      val crc = new java.util.zip.CRC32(); crc.update(rec)
      bos.write(Array[Byte](0x1F.toByte, 0x8B.toByte, 8, 8, 0, 0, 0, 0, 0, 0))
      bos.write("f.warc".getBytes("UTF-8")); bos.write(0)
      bos.write(deflated.toByteArray)
      def le32(v: Long): Array[Byte] = Array(
        (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
        ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
      bos.write(le32(crc.getValue)); bos.write(le32(rec.length.toLong))
      bos.toByteArray
    }
    assert(WarcArchives.parseWarc(
      WarcArchives.gunzipAll(m1 ++ named ++ m2)).size == 3)
  }

  test("htmlText drops script/style blocks whole, strips tags, decodes " +
      "entities with &amp; last, and collapses whitespace") {
    val html = "<html><head><title>T</title><style>p {color: red}</style>" +
      "</head><body>\n<h1>H</h1>  <p>one &amp; two &lt;x&gt;</p>" +
      "<script>var a = \"<p>not text</p>\";</script>" +
      "<p>&amp;lt; stays literal &nbsp;&quot;q&#39;s&quot;</p></body></html>"
    val got = Seq(html).toDF("h")
      .select(graft.functions.TextAnalysis.htmlText($"h"))
      .as[String].head()
    assert(got == "T H one & two <x> &lt; stays literal \"q's\"")
    // header split: body only, and a payload with no header block
    // passes through whole
    val sp = Seq(("HTTP/1.1 200 OK\r\nX: y\r\n\r\nBODY".getBytes("UTF-8"),
        "no headers".getBytes("UTF-8")))
      .toDF("a", "b")
      .select(WarcArchives.httpBodyText($"a"),
        WarcArchives.httpBodyText($"b"))
      .as[(String, String)].head()
    assert(sp == (("BODY", "no headers")))
  }
}
