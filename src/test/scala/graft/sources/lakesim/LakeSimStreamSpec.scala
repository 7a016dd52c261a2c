package graft.sources.lakesim

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Streaming lake extraction: exactly-once per data object across restarts
  * via checkpointed object-count offsets. */
class LakeSimStreamSpec extends SparkSpec {
  import spark.implicits._

  val schema = StructType(Seq(
    StructField("id", LongType), StructField("amount", DoubleType)))

  def writeObject(dir: String, name: String, ids: Range): Unit =
    Files.writeString(Paths.get(s"$dir/$name"),
      ids.map(i => s"""{"id": $i, "amount": ${i * 10}}""").mkString("\n"))

  def writeIndex(dir: String, files: Seq[(String, Int)]): Unit =
    Files.writeString(Paths.get(s"$dir/index.json"),
      files.map { case (f, n) => s"""{"file": "$f", "count": $n}""" }
        .mkString("{\"objects\": [", ",", "]}"))

  def runOnce(dir: String, ckpt: String, out: String): Unit = {
    val q = spark.readStream.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", dir).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("AvailableNow is admission-controlled: maxObjectsPerBatch bounds " +
      "each micro-batch and the drain still covers everything") {
    val base = tempDir("lakestream_an").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    (0 until 5).foreach { i =>
      writeObject(base, s"obj$i.ndjson", (i * 10 + 1) to (i * 10 + 10)) }
    writeIndex(base, (0 until 5).map(i => s"obj$i.ndjson" -> 10))
    val batches = new java.util.concurrent.atomic.AtomicLong(0L)
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", base)
      .option("maxobjectsperbatch", 2).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.incrementAndGet(); sizes.add(b.count()); () }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // 5 objects at <= 2 per batch -> 3 real batches of (20, 20, 10) rows
    // (a genuine multi-batch drain with per-batch commit boundaries, not
    // the single-batch fallback the plain MicroBatchStream got)
    import scala.jdk.CollectionConverters._
    val real = sizes.asScala.toSeq.filter(_ > 0)
    assert(real == Seq(20L, 20L, 10L),
      s"expected (20,20,10) row batches, got $real over ${batches.get()}")
    // and the pinned-target contract still drains everything exactly once
    val q2 = spark.readStream.format(classOf[LakeSimSource].getName)
      .schema(schema).option("path", base)
      .option("maxobjectsperbatch", 2).load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", s"$base/ckpt2")
      .trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination()
    assert(spark.read.parquet(out).select("id").as[Long].collect().sorted
      .toSeq == (1L to 50L).toSeq)
  }

  test("micro-batches cover new objects exactly once across restarts") {
    val base = tempDir("lakestream").toString
    val (ckpt, out) = (s"$base/ckpt", s"$base/out")
    writeObject(base, "obj0.ndjson", 1 to 10)
    writeIndex(base, Seq("obj0.ndjson" -> 10))
    runOnce(base, ckpt, out)
    assert(spark.read.parquet(out).count() == 10)

    // two more objects appear in the lake; restart processes ONLY them
    writeObject(base, "obj1.ndjson", 11 to 15)
    writeObject(base, "obj2.ndjson", 16 to 20)
    writeIndex(base, Seq("obj0.ndjson" -> 10, "obj1.ndjson" -> 5,
      "obj2.ndjson" -> 5))
    runOnce(base, ckpt, out)
    val ids = spark.read.parquet(out).select("id").as[Long].collect().sorted
    assert(ids.toSeq == (1L to 20L).toSeq) // no replays, no gaps

    // idempotent: nothing new → nothing appended
    runOnce(base, ckpt, out)
    assert(spark.read.parquet(out).count() == 20)
  }
}
