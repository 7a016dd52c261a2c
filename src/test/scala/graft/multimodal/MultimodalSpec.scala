package graft.multimodal

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  val media = Seq((1L, "hello world this is payload bytes"), (2L, "x")).toDF("media_id", "text")
    .withColumn("payload", Multimodal.asPayload($"text"))

  test("payload is opaque binary with byte-accurate length") {
    val row = media.withColumn("meta", Multimodal.fakeDecodeMeta($"payload"))
      .select($"meta.n_bytes").as[Long].collect()
    assert(row(0) == 33L && row(1) == 1L)
  }

  test("stub decode derives deterministic dimensions from payload bytes") {
    val metas = media.withColumn("meta", Multimodal.fakeDecodeMeta($"payload"))
      .select($"meta.width", $"meta.height").as[(Int, Int)].collect()
    // 'h' = 104 → width 104%64*16+16 = 656; height 104%48*16+16 = 144
    assert(metas(0) == ((656, 144)))
    assert(metas.forall { case (w, h) => w >= 16 && h >= 16 })
  }

  test("decodePartitions batch decode equals the expression-level stub") {
    val viaExpr = media
      .select($"media_id", Multimodal.fakeDecodeMeta($"payload").as("meta"))
      .orderBy("media_id").collect().map(_.toString)
    val viaPartitions = Multimodal.decodePartitions(media, "media_id", "payload")
      .orderBy("media_id").collect().map(_.toString)
    assert(viaPartitions.toSeq == viaExpr.toSeq)
    // a custom codec binds without changing the pipeline shape
    val custom = Multimodal.decodePartitions(media, "media_id", "payload",
      b => Multimodal.DecodedMeta(b.length.toLong, "RAW", 1, 1))
      .select($"meta.format").as[String].collect()
    assert(custom.forall(_ == "RAW"))
  }

  test("sampleFrames yields n frames of the requested byte width") {
    val frames = Multimodal.sampleFrames(media.filter($"media_id" === 1),
      "media_id", "payload", n = 5, frameBytes = 8)
    val rows = frames.select("frame_idx").as[Int].collect().toSeq
    assert(rows == Seq(0, 1, 2, 3, 4))
    val widths = frames.select(length($"frame")).as[Int].collect()
    assert(widths.forall(_ <= 8) && widths.head == 8)
  }
}
