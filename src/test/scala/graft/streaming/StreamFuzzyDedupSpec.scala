package graft.streaming


import graft.SparkSpec

/** Streaming fuzzy dedup against the persisted standing variant index:
  * wave-2 typos of wave-1 names must be dropped via the STORED state
  * (wave-1 names are gone from the stream), survivors extend the index,
  * and a no-data replay leaves the accepted set unchanged. */
class StreamFuzzyDedupSpec extends SparkSpec {
  import spark.implicits._

  test("wave-2 typos of wave-1 names are dropped via the stored index") {
    val dir = tempDir("sfd").toString
    val src = s"$dir/landing"
    val schema = Seq((1L, "x")).toDF("id", "name").schema
    def run(): Long = StreamFuzzyDedup.runAvailableNow(
      spark, src, schema, "id", "name", s"$dir/state", s"$dir/ckpt")

    val wave1 = Seq((1L, "martha"), (2L, "jonathan"), (3L, "elisabeth"))
      .toDF("id", "name")
    StreamWaves.stage(src, Seq(wave1))
    assert(run() == 1L)
    assert(spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L))
    assert(spark.read.parquet(s"$dir/state/variants").count() > 0)
    assert(spark.read.parquet(s"$dir/state/names").count() > 0)

    // wave 2: 11 = exact clone of 1, 12 = one-char typo of 2,
    // 13 = DISTANCE-2 typo of 3 (must survive at maxDist=1), 14 = fresh
    val wave2 = Seq((11L, "martha"), (12L, "jonathen"),
      (13L, "elizabth"), (14L, "winston")).toDF("id", "name")
    StreamWaves.stage(src, Seq(wave2))
    assert(run() == 1L)
    val accepted = spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 3L, 13L, 14L),
      s"typos within distance 1 must drop via the stored index: $accepted")

    // the survivors joined the index: a wave-3 typo of 14 drops
    StreamWaves.stage(src, Seq(Seq((21L, "winstonx")).toDF("id", "name")))
    assert(run() == 1L)
    assert(spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 13L, 14L))

    // replay with no new files: accepted set unchanged
    assert(run() == 0L)
    assert(spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet == Set(1L, 2L, 3L, 13L, 14L))
  }

  test("maxDist=2 widens the stored-index drop to double typos; " +
      "no cache residue outlives a run") {
    val dir = tempDir("sfd2").toString
    val src = s"$dir/landing"
    val schema = Seq((1L, "x")).toDF("id", "name").schema
    def run(): Long = StreamFuzzyDedup.runAvailableNow(
      spark, src, schema, "id", "name", s"$dir/state", s"$dir/ckpt",
      maxDist = 2)

    StreamWaves.stage(src,
      Seq(Seq((1L, "martha"), (2L, "gilbert")).toDF("id", "name")))
    assert(run() == 1L)
    // 11 = two substitutions off 1 (drops at maxDist=2); 12 = three
    // edits off 2 (survives)
    StreamWaves.stage(src, Seq(Seq((11L, "nartha_".dropRight(1).updated(5, 'x')),
      (12L, "gilbzzz")).toDF("id", "name")))
    assert(run() == 1L)
    val accepted = spark.read.parquet(s"$dir/state/accepted")
      .select("id").as[Long].collect().toSet
    assert(accepted == Set(1L, 2L, 12L), accepted.toString)
    assert(spark.sharedState.cacheManager.isEmpty,
      "streaming fuzzy dedup must release every cached frame")
  }
}
