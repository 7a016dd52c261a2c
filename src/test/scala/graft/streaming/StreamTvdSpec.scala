package graft.streaming


import graft.SparkSpec

/** The streaming TVD monitor's gate invariant (q279), pinned at spec
  * scale: the standing report served off summed batch increments
  * row-matches the one-shot batch [[graft.functions.Drift.tvdDrift]]
  * over everything drained, under multi-wave slicing. (Replay safety
  * is StreamReplaySpec's pin.) */
class StreamTvdSpec extends SparkSpec {
  import spark.implicits._

  test("standing drift report equals the one-shot batch TVD under " +
      "wave slicing") {
    val dir = tempDir("stvd").toString
    val src = s"$dir/landing"
    // reference mix: 2 cohorts × 3 buckets; current mix drops one
    // bucket from cohort 0 so the report discriminates
    val ref = (1L to 60L).map(i => (i % 2, s"e${i % 3}"))
      .toDF("cohort", "bucket")
    val cur = (1L to 60L).filterNot(i => i % 2 == 0 && i % 3 == 0)
      .map(i => (i % 2, s"e${i % 3}", i)).toDF("cohort", "bucket", "id")
    // three waves, one lifecycle
    StreamWaves.stage(src, (0 to 2).map(w =>
      cur.filter($"id" % 3 === w).drop("id")))
    // one micro-batch per staged wave
    assert(StreamTvd.runAvailableNow(spark, src, cur.drop("id").schema,
      "cohort", "bucket", s"$dir/sink", s"$dir/ckpt") == 3L)
    val got = StreamTvd.currentDrift(spark, s"$dir/sink", ref,
      "cohort", "bucket", 3L, 100L)
    val want = graft.functions.Drift.tvdDrift(ref, cur.drop("id"),
      "cohort", "bucket", 3L, 100L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
  }
}
