package graft.multimodal

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video payloads travel as opaque
  * `BinaryType` columns beside a typed metadata struct; decode/feature
  * steps run per-partition so a real codec binds without changing the
  * pipeline shape.
  *
  * The decode itself is STUBBED — this container has no image/audio codecs —
  * with a deterministic fake that derives "decoded" attributes from the
  * payload bytes. The Spark-side contract (schema, partitioning, batch
  * shape) is real and tested; swap `fakeDecode*` for a codec UDF or
  * `mapInPandas`-style batch decode in a full deployment.
  */
object Multimodal {

  /** Wrap a string column as a binary payload (utf-8), the shape ingest
    * produces when reading raw media bytes. */
  def asPayload(c: Column): Column = encode(c, "UTF-8")

  /** STUB image decode: derives deterministic fake dimensions from the
    * payload bytes (first payload byte scales width/height). A real
    * implementation decodes the codec header here; everything downstream
    * consumes only the struct. */
  def fakeDecodeMeta(payload: Column): Column = {
    val firstByteHex = substring(hex(payload), 1, 2)
    val firstByte = conv(firstByteHex, 16, 10).cast("int")
    struct(
      length(payload).cast("long").as("n_bytes"),
      substring(hex(payload), 1, 8).as("format"),
      (firstByte % 64 * 16 + 16).as("width"),
      (firstByte % 48 * 16 + 16).as("height"))
  }

  /** Fixed-count frame sampling: n evenly-spaced byte-window "frames" from
    * a payload — the batch shape a video pipeline needs (id, frame_idx,
    * frame_bytes), exploded so frames distribute across partitions. */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
                   n: Int, frameBytes: Int): DataFrame = {
    val p = col(payloadCol)
    val step = greatest((length(p) - lit(frameBytes)) / lit(math.max(n - 1, 1)), lit(1))
    df.select(col(idCol),
        posexplode(transform(sequence(lit(0), lit(n - 1)),
          i => substring(p, (i * step + 1).cast("int"), lit(frameBytes)))))
      .toDF(idCol, "frame_idx", "frame")
      .filter(length(col("frame")) > 0)
  }

  final case class DecodedMeta(n_bytes: Long, format: String,
                               width: Int, height: Int)

  /** Partition-wise batch decode: the codec runs once per row INSIDE a
    * partition iterator (the Scala analog of a batched decode UDF), so a
    * real native decoder amortizes its per-partition init (model load,
    * codec context) across the whole batch and the pipeline shape —
    * schema, partitioning, batch iteration — doesn't change when one
    * binds. The default codec is the deterministic stub. */
  def decodePartitions(df: DataFrame, idCol: String, payloadCol: String,
                       codec: Array[Byte] => DecodedMeta = stubCodec)
      : DataFrame = {
    val spark = df.sparkSession
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("meta", StructType(Seq(
        StructField("n_bytes", LongType), StructField("format", StringType),
        StructField("width", IntegerType), StructField("height", IntegerType))))))
    val rdd = df.select(col(idCol), col(payloadCol)).rdd.mapPartitions { it =>
      // per-partition codec init would go here (once, not per row)
      it.map { r =>
        val m = codec(r.getAs[Array[Byte]](1))
        Row(r.getLong(0), Row(m.n_bytes, m.format, m.width, m.height))
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Minimal valid BMP payload (54 bytes: file header +
    * BITMAPINFOHEADER, zero pixel rows) whose dimensions round-trip
    * through [[ImageHeaders.parse]] — the synthetic-media generator
    * for gates that need REAL image bytes on disk without a codec
    * library. */
  def syntheticBmp(width: Int, height: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(54)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('B'.toByte).put('M'.toByte)
    bb.putInt(54)       // file size
    bb.putInt(0)        // reserved
    bb.putInt(54)       // pixel-data offset
    bb.putInt(40)       // BITMAPINFOHEADER size
    bb.putInt(width)    // little-endian at offset 18
    bb.putInt(height)   // little-endian at offset 22
    bb.putShort(1)      // planes
    bb.putShort(24)     // bits per pixel
    // compression/sizes/resolutions/palette fields stay zero
    bb.array()
  }

  /** STUB codec mirroring [[fakeDecodeMeta]] byte-for-byte (pinned by
    * MultimodalSpec) — swap for a real header parser in deployment. */
  def stubCodec(payload: Array[Byte]): DecodedMeta = {
    val hex = payload.take(4).map("%02X".format(_)).mkString
    val firstByte = if (payload.nonEmpty) payload(0) & 0xFF else 0
    DecodedMeta(payload.length.toLong, hex,
      firstByte % 64 * 16 + 16, firstByte % 48 * 16 + 16)
  }
}
