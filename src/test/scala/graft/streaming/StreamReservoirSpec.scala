package graft.streaming

import graft.SparkSpec
import graft.functions.Sampling

/** The streaming weighted reservoir keeps bounded state: a snapshot sink
  * holds at most the two newest batches however many waves drain, the
  * standing sample equals the one-shot reservoir over everything drained,
  * and a replay of the last batch changes nothing. */
class StreamReservoirSpec extends SparkSpec {
  import spark.implicits._

  test("six waves leave at most two batch directories; the reservoir " +
      "equals the one-shot sample; replaying the last batch is a no-op") {
    val dir = tempDir("sres").toString
    val src = s"$dir/landing"
    val sink = s"$dir/sink"
    val rows = (1L to 120L).map(i => (i, i % 9 + 1)).toDF("k", "w")
    def run(): Long = StreamReservoir.runAvailableNow(
      spark, src, rows.schema, "k", "w", 10, sink, s"$dir/ckpt")
    def batchDirs(): Seq[String] = new java.io.File(sink).list()
      .filter(_.startsWith("batch_id=")).sorted.toSeq
    def served: Set[(Long, Long, Int)] =
      StreamReservoir.currentReservoir(spark, sink)
        .select($"k", $"w".cast("long"), $"sample_rank")
        .as[(Long, Long, Int)].collect().toSet
    StreamWaves.stage(src, (0 until 6).map(i => rows.filter($"k" % 6 === i)))
    assert(run() == 6L)
    assert(batchDirs() == Seq("batch_id=4", "batch_id=5"))
    val want = Sampling.weightedReservoir(rows, "k", "w", 10)
      .select($"k", $"w".cast("long"), $"sample_rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(served == want)
    // forget that batch 5 committed (the commit file and its checksum
    // sidecar): the restart re-runs it from batch 4
    Seq("5", ".5.crc").foreach(f =>
      assert(new java.io.File(s"$dir/ckpt/commits/$f").delete(), f))
    assert(run() == 1L)
    assert(batchDirs() == Seq("batch_id=4", "batch_id=5"))
    assert(served == want)
  }
}
