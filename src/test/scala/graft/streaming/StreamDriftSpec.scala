package graft.streaming


import org.apache.spark.sql.types.StructType

import graft.SparkSpec
import graft.functions.Drift

/** The streaming drift monitor, [[Drift.categoryCounts]] run on a stream
  * through [[StreamState.maintain]], must fold new batches into RESTORED
  * per-category counts, emit cumulative rows per batch, and converge to
  * exactly the batch count. */
class StreamDriftSpec extends SparkSpec {
  import spark.implicits._

  private def maintain(src: String, schema: StructType, dir: String): Long =
    StreamState.maintain(Drift.categoryCounts(
      StreamWaves.reader(spark, schema, src), "cat", "cur_n"),
      s"$dir/sink", s"$dir/ckpt")

  private def currentCounts(dir: String) =
    StreamState.latest(spark.read.parquet(s"$dir/sink"), Seq("category"))

  test("counts accumulate across batches and survive replay") {
    val dir = tempDir("sdr").toString
    val src = s"$dir/landing"
    def run(): Long = maintain(src, Seq("x").toDF("cat").schema, dir)

    StreamWaves.stage(src, Seq(Seq("a", "a", "b").toDF("cat")))
    assert(run() == 1L)
    // wave 2: only a moves — b's standing row must stay batch 0's
    StreamWaves.stage(src, Seq(Seq("a").toDF("cat")))
    assert(run() == 1L)
    val got = currentCounts(dir)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a" -> 3L, "b" -> 1L))

    // replay with no new files: the sink must not gain rows
    val before = spark.read.parquet(s"$dir/sink").count()
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/sink").count() == before)
    // batch 1 emitted ONLY the updated category
    assert(spark.read.parquet(s"$dir/sink/batch_id=1").count() == 1L)
  }

  test("null categories are first-class state keys") {
    val dir = tempDir("sdrn").toString
    val src = s"$dir/landing"
    def run(): Long = maintain(src, Seq(Option("x")).toDF("cat").schema, dir)
    StreamWaves.stage(src, Seq(Seq(Some("a"), None, None).toDF("cat")))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(Seq[Option[String]](None).toDF("cat")))
    assert(run() == 1L)
    val got = currentCounts(dir)
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(Some("a") -> 1L, None -> 3L))
  }

  test("standing counts feed the batch audit identically") {
    val dir = tempDir("sdra").toString
    val src = s"$dir/landing"
    val cur = Seq("a", "a", "b", "b", "b").toDF("cat")
    val ref = Seq("a", "a", "a", "b").toDF("cat")
    def run(): Long = maintain(src, cur.schema, dir)
    StreamWaves.stage(src, Seq(cur))
    assert(run() == 1L)
    val streamed = Drift.chiSquaredAuditFromCounts(
        Drift.categoryCounts(ref, "cat", "ref_n"), currentCounts(dir), 1, 4)
      .orderBy("category").collect().toSeq
    val batch = Drift.chiSquaredAudit(ref, cur, "cat", 1, 4)
      .orderBy("category").collect().toSeq
    assert(streamed == batch)
  }
}
