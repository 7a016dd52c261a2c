package graft.streaming


import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Contamination

/** Streaming benchmark-contamination admission: quarantine by wave,
  * batch equality, replay stability, compaction. */
class StreamContaminationSpec extends SparkSpec {
  import spark.implicits._

  private val bench = Seq(
    (100L, "the quick brown fox jumps over the lazy dog tonight"),
    (101L, "pack my box with five dozen liquor jugs right now"))
    .toDF("doc_id", "text")

  // doc 1 embeds a full benchmark 8-gram (contaminated); 2 and 3 are
  // clean; 4 shares only shorter fragments (clean at n = 8)
  private val w1 = Seq(
    (1L, "intro text the quick brown fox jumps over the lazy dog tonight"),
    (2L, "a completely original sentence about spark physical plans here"))
    .toDF("doc_id", "text")
  private val w2 = Seq(
    (3L, "another clean document mentioning shuffles and broadcast joins"),
    (4L, "the quick brown fox stops here and nothing else matches on"))
    .toDF("doc_id", "text")

  test("contaminated docs quarantine by wave, clean docs admit, the " +
      "streamed reports equal the batch operator, replay is a no-op") {
    val dir = tempDir("contam").toString
    val src = s"$dir/landing"
    StreamContamination.seedBenchmark(spark, bench, "text", s"$dir/state")
    def run(): Long = StreamContamination.runAvailableNow(spark, src,
      w1.schema, "doc_id", "text", s"$dir/state", s"$dir/ckpt")
    StreamWaves.stage(src, Seq(w1))
    assert(run() == 1L)
    StreamWaves.stage(src, Seq(w2))
    assert(run() == 1L)
    assert(run() == 0L) // replay: no new files, no state change
    def ids(table: String): Map[Long, Long] = spark.read
      .parquet(s"$dir/state/$table")
      .select($"doc_id", $"batch_id".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(ids("quarantined") == Map(1L -> 0L))
    assert(ids("admitted") == Map(2L -> 0L, 3L -> 1L, 4L -> 1L))
    // streamed reports ≡ the batch operator over the union corpus
    val streamed = spark.read.parquet(s"$dir/state/reports")
      .select($"doc_id", $"n_shingles", $"n_hits", $"contam_frac",
        $"contaminated")
    val batch = Contamination.overlapReport(w1.unionByName(w2), "doc_id",
      "text", bench, "text", n = 8)
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty)
    // compaction folds older batch dirs into the batch_id=-1 base
    // (the newest batch stays as the replay candidate) without
    // changing membership
    Seq("admitted", "quarantined", "reports").foreach(t =>
      StreamState.compact(spark, s"$dir/state/$t", Seq("doc_id")))
    assert(ids("quarantined") == Map(1L -> -1L))
    assert(ids("admitted") == Map(2L -> -1L, 3L -> 1L, 4L -> 1L))
  }
}
