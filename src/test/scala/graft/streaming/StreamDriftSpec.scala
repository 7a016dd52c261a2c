package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The streaming drift monitor must fold new batches into RESTORED
  * per-category counts, emit cumulative rows per batch, and converge to
  * exactly the batch groupBy.count. */
class StreamDriftSpec extends SparkSpec {
  import spark.implicits._

  test("counts accumulate across batches and survive replay") {
    val dir = tempDir("sdr").toString
    val src = s"$dir/landing"
    val schema = Seq("x").toDF("cat").schema
    def run(): Long = StreamDrift.runAvailableNow(
      spark, src, schema, "cat", s"$dir/sink", s"$dir/ckpt")

    StreamWaves.stage(src, Seq(Seq("a", "a", "b").toDF("cat")))
    assert(run() == 1L)
    // wave 2: only a moves — b's standing row must stay batch 0's
    StreamWaves.stage(src, Seq(Seq("a").toDF("cat")))
    assert(run() == 1L)
    val got = StreamDrift.currentCounts(spark, s"$dir/sink")
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
    val schema = Seq(Option("x")).toDF("cat").schema
    def run(): Long = StreamDrift.runAvailableNow(
      spark, src, schema, "cat", s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(Seq(Some("a"), None, None).toDF("cat")))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(Seq[Option[String]](None).toDF("cat")))
    assert(run() == 1L)
    val got = StreamDrift.currentCounts(spark, s"$dir/sink")
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(got == Map(Some("a") -> 1L, None -> 3L))
  }

  test("standing counts feed the batch audit identically") {
    val dir = tempDir("sdra").toString
    val src = s"$dir/landing"
    val cur = Seq("a", "a", "b", "b", "b").toDF("cat")
    val ref = Seq("a", "a", "a", "b").toDF("cat")
    def run(): Long = StreamDrift.runAvailableNow(
      spark, src, cur.schema, "cat", s"$dir/sink", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(cur))
    assert(run() == 1L)
    val refCounts = ref.groupBy(col("cat").as("category"))
      .agg(count(lit(1)).as("ref_n"))
    val streamed = graft.functions.Drift.chiSquaredAuditFromCounts(
        refCounts, StreamDrift.currentCounts(spark, s"$dir/sink"), 1, 4)
      .orderBy("category").collect().toSeq
    val batch = graft.functions.Drift.chiSquaredAudit(ref, cur, "cat", 1, 4)
      .orderBy("category").collect().toSeq
    assert(streamed == batch)
  }
}
