package graft.multimodal

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** WARC archive ingest/export — the container format a web-crawl
  * corpus actually arrives in (ISO 28500; Common Crawl ships
  * `.warc.gz` with EVERY record its own gzip member, concatenated, so
  * a reader can seek to a record without inflating the file). Decode
  * is REAL and dependency-free: `java.util.zip.GZIPInputStream` reads
  * concatenated members natively, and the record framing
  * (version line, CRLF headers, Content-Length-bounded payload) is a
  * strict parser that fails LOUDLY on corruption — the
  * [[TarShards.parseTar]] contract; a silent resync could misattribute
  * payload bytes to the wrong target URI, which is corpus poison.
  *
  * Scale shape: one task per WARC file (binaryFile scan →
  * per-partition inflate+parse — the [[Multimodal.decodePartitions]]
  * codec seam); downstream text extraction is codegen'd expressions
  * ([[graft.functions.TextAnalysis.htmlText]]), never a driver loop.
  * Export packs records into files by the [[graft.functions.Sharding
  * .packShards]] distributed prefix sum (weight 1, budget =
  * records/file) — no global sort, no driver data. */
object WarcArchives {

  /** One WARC record: version line + CRLF headers + Content-Length
    * payload + the closing double CRLF. */
  def warcRecordBytes(headers: Seq[(String, String)],
                      payload: Array[Byte]): Array[Byte] = {
    val h = new StringBuilder("WARC/1.0\r\n")
    headers.foreach { case (k, v) => h.append(s"$k: $v\r\n") }
    h.append(s"Content-Length: ${payload.length}\r\n\r\n")
    h.toString.getBytes(UTF_8) ++ payload ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** One gzip member (the per-record compression unit of `.warc.gz`). */
  def gzipMember(bytes: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(bytes)
    gz.close()
    bos.toByteArray
  }

  /** Inflate a (possibly multi-member) gzip stream; plain bytes pass
    * through untouched (uncompressed `.warc` support). Walks members
    * MANUALLY (header parse + raw `Inflater` + trailer verify) instead
    * of `GZIPInputStream`, because the JDK stream treats a malformed
    * subsequent member header as clean EOF — which would silently drop
    * every record after a corrupt member boundary. Here any bytes left
    * after a member's trailer must start a well-formed next member, or
    * the whole file fails loudly with byte-offset context. */
  def gunzipAll(bytes: Array[Byte]): Array[Byte] = {
    if (bytes.length < 2 || (bytes(0) & 0xFF) != 0x1F ||
      (bytes(1) & 0xFF) != 0x8B) return bytes
    val out = new java.io.ByteArrayOutputStream(bytes.length * 4)
    var i = 0
    while (i < bytes.length) i = inflateMember(bytes, i, out)
    out.toByteArray
  }

  /** Inflate ONE gzip member starting at `start`, appending its
    * plaintext to `out`; returns the offset just past the member's
    * 8-byte trailer. Throws on any malformation: bad magic, unknown
    * method, truncated header/deflate/trailer, CRC32 or ISIZE
    * mismatch — the fail-loudly contract [[gunzipAll]] documents. */
  private def inflateMember(b: Array[Byte], start: Int,
                            out: java.io.ByteArrayOutputStream): Int = {
    def die(msg: String): Nothing = throw new IllegalStateException(
      s"gunzipAll: $msg (member at byte $start)")
    def u8(j: Int): Int = {
      if (j >= b.length) die("truncated gzip header")
      b(j) & 0xFF
    }
    if (u8(start) != 0x1F || u8(start + 1) != 0x8B)
      die("bytes after member trailer are not a gzip member")
    if (u8(start + 2) != 8) die(s"unknown compression method ${u8(start + 2)}")
    val flg = u8(start + 3)
    var i = start + 10
    if ((flg & 4) != 0) { val xlen = u8(i) | (u8(i + 1) << 8); i += 2 + xlen }
    if ((flg & 8) != 0) { while (u8(i) != 0) i += 1; i += 1 }  // FNAME
    if ((flg & 16) != 0) { while (u8(i) != 0) i += 1; i += 1 } // FCOMMENT
    if ((flg & 2) != 0) i += 2                                 // FHCRC
    if (i >= b.length) die("truncated gzip header")
    val inf = new java.util.zip.Inflater(true)
    try {
      inf.setInput(b, i, b.length - i)
      val crc = new java.util.zip.CRC32()
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      while (!inf.finished()) {
        val n =
          try inf.inflate(buf)
          catch { case e: java.util.zip.DataFormatException =>
            die(s"corrupt deflate stream: ${e.getMessage}") }
        if (n == 0 && inf.needsInput()) die("truncated deflate stream")
        crc.update(buf, 0, n)
        out.write(buf, 0, n)
        total += n
      }
      val next = i + (b.length - i - inf.getRemaining)
      if (next + 8 > b.length) die("truncated gzip trailer")
      def le32(j: Int): Long =
        (u8(j) | (u8(j + 1) << 8) | (u8(j + 2) << 16) |
          (u8(j + 3).toLong << 24)) & 0xFFFFFFFFL
      if (le32(next) != crc.getValue)
        die(f"CRC32 mismatch: stored ${le32(next)}%08x, computed ${crc.getValue}%08x")
      if (le32(next + 4) != (total & 0xFFFFFFFFL))
        die(s"ISIZE mismatch: stored ${le32(next + 4)}, inflated $total")
      next + 8
    } finally inf.end()
  }

  /** Parse a WARC byte stream to
    * `(warc_type, target_uri, content_type, payload)` records. STRICT:
    * a missing version line, an unterminated header block, or a
    * Content-Length past the end throws with byte-offset context. */
  private[multimodal] def parseWarc(bytes: Array[Byte])
      : Seq[(String, String, String, Array[Byte])] = {
    val out = Seq.newBuilder[(String, String, String, Array[Byte])]
    var i = 0
    def die(msg: String): Nothing =
      throw new IllegalStateException(s"parseWarc: $msg at byte $i")
    def lineEnd(from: Int): Int = {
      var j = from
      while (j + 1 < bytes.length &&
        !(bytes(j) == '\r' && bytes(j + 1) == '\n')) j += 1
      if (j + 1 >= bytes.length) die("unterminated line")
      j
    }
    while (i < bytes.length) {
      // tolerate inter-record CRLF padding, then require a version line
      while (i + 1 < bytes.length && bytes(i) == '\r' &&
        bytes(i + 1) == '\n') i += 2
      if (i < bytes.length) {
        var e = lineEnd(i)
        val version = new String(bytes, i, e - i, UTF_8)
        if (!version.startsWith("WARC/")) die(s"expected version line, " +
          s"got '${version.take(40)}'")
        i = e + 2
        var headers = Map.empty[String, String]
        var open = true
        while (open) {
          e = lineEnd(i)
          if (e == i) { open = false; i += 2 } // empty line ends headers
          else {
            val line = new String(bytes, i, e - i, UTF_8)
            val cut = line.indexOf(':')
            if (cut < 0) die(s"malformed header '${line.take(40)}'")
            headers += (line.substring(0, cut).trim.toLowerCase ->
              line.substring(cut + 1).trim)
            i = e + 2
          }
        }
        val clen = headers.getOrElse("content-length",
          die("missing Content-Length")).toLong
        if (i + clen > bytes.length) die(s"Content-Length $clen overruns")
        out += ((headers.getOrElse("warc-type", ""),
          headers.getOrElse("warc-target-uri", ""),
          headers.getOrElse("content-type", ""),
          java.util.Arrays.copyOfRange(bytes, i, (i + clen).toInt)))
        i += clen.toInt
      }
    }
    out.result()
  }

  /** The body of a UTF-8 HTTP payload: the text after the first blank
    * line (whole payload when none) — codegen'd builtins, restated
    * verbatim by the oracle. */
  def httpBodyText(payload: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val s = decode(payload, "UTF-8")
    val cut = locate("\r\n\r\n", s)
    when(cut === 0, s).otherwise(s.substr(cut + lit(4), length(s)))
  }

  /** Export `(uri, payload)` rows as `.warc.gz` files of
    * `recordsPerFile` response records each (packed by the distributed
    * prefix sum — no global sort), every record its own gzip member
    * behind a leading warcinfo member — the Common Crawl layout.
    * Returns the manifest `(file_id, path, n_records)`. */
  def writeWarcFiles(df: DataFrame, idCol: String, uriCol: String,
                     payloadCol: String, outDir: String,
                     recordsPerFile: Int,
                     compress: Boolean = true): DataFrame = {
    require(recordsPerFile > 0, "recordsPerFile must be positive")
    val spark = df.sparkSession
    val weighted = df.select(col(idCol), col(uriCol), col(payloadCol))
      .withColumn("_graft_w", lit(1L))
    val packed = graft.functions.Sharding.packShards(
      weighted, idCol, "_graft_w", recordsPerFile.toLong)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val ext = if (compress) "warc.gz" else "warc"
    val outSchema = StructType(Seq(
      StructField("file_id", LongType), StructField("path", StringType),
      StructField("n_records", LongType)))
    val rows = packed
      .select(col("shard_id"), col(idCol), col(uriCol), col(payloadCol))
      .repartition(col("shard_id"))
      .sortWithinPartitions(col("shard_id"), col(idCol))
      .rdd.mapPartitions { it =>
        val manifests = Seq.newBuilder[Row]
        var out: org.apache.hadoop.fs.FSDataOutputStream = null
        var curShard = -1L
        var curPath = ""
        var n = 0L
        def member(b: Array[Byte]): Array[Byte] =
          if (compress) gzipMember(b) else b
        def close(): Unit = if (out != null) {
          out.close()
          manifests += Row(curShard, curPath, n)
          out = null
        }
        it.foreach { r =>
          val shard = r.getLong(0)
          if (out == null || shard != curShard) {
            close()
            curShard = shard
            n = 0L
            curPath = s"$outDir/part-${"%06d".format(shard)}.$ext"
            val p = new org.apache.hadoop.fs.Path(curPath)
            out = p.getFileSystem(hconf.value).create(p, true)
            out.write(member(warcRecordBytes(Seq(
              "WARC-Type" -> "warcinfo",
              "WARC-Record-ID" -> s"<urn:graft:file:$shard>",
              "Content-Type" -> "application/warc-fields"),
              s"software: graft\r\npartition: $shard\r\n".getBytes(UTF_8))))
          }
          val id = r.getLong(1)
          val payload = Option(r.getAs[Array[Byte]](3))
            .getOrElse(Array.emptyByteArray)
          out.write(member(warcRecordBytes(Seq(
            "WARC-Type" -> "response",
            "WARC-Record-ID" -> s"<urn:graft:record:$id>",
            "WARC-Target-URI" -> r.getString(2),
            "Content-Type" -> "application/http;msgtype=response"),
            payload)))
          n += 1
        }
        close()
        manifests.result().iterator
      }
    // localCheckpoint pins the side-effecting write exactly once
    spark.createDataFrame(rows, outSchema).localCheckpoint()
      .orderBy(col("file_id"))
  }

  /** Scan a directory of `.warc` / `.warc.gz` files to one row per
    * record: `(path, record_idx, warc_type, target_uri, content_type,
    * payload)`. Inflate + parse run per partition (one task per file —
    * WARC files are the crawl's natural work unit). */
  def readWarcRecords(spark: org.apache.spark.sql.SparkSession,
                      dir: String): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("record_idx", IntegerType),
      StructField("warc_type", StringType),
      StructField("target_uri", StringType),
      StructField("content_type", StringType),
      StructField("payload", BinaryType)))
    val rows = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.warc*")
      .load(dir)
      .select(col("path"), col("content"))
      .rdd.flatMap { r =>
        val path = r.getString(0)
        parseWarc(gunzipAll(r.getAs[Array[Byte]](1))).zipWithIndex.map {
          case ((t, uri, ct, payload), idx) =>
            Row(path, idx, t, uri, ct, payload)
        }
      }
    spark.createDataFrame(rows, outSchema)
  }
}
