package graft.streaming


import graft.SparkSpec
import graft.operators.Components

/** Incremental connected-components maintenance: the standing
  * assignment equals the one-shot computation over the union of all
  * waves, in ANY wave order, and merges relabel the losing cluster. */
class StreamComponentsSpec extends SparkSpec {
  import spark.implicits._

  // wave A: two separate chains {1,2,3} and {10,11}
  private val waveA = Seq((1L, 2L), (2L, 3L), (10L, 11L))
  // wave B: re-delivers (1,2), bridges the two chains, adds {20,21}
  private val waveB = Seq((1L, 2L), (3L, 10L), (20L, 21L))
  private val oneShot = Components
    .connectedComponents((waveA ++ waveB).toDF("a", "b"), "a", "b")

  private def drain(waves: Seq[Seq[(Long, Long)]]): Set[(Long, Long)] = {
    val dir = tempDir("scomp").toString
    val src = s"$dir/landing"
    val schema = waveA.toDF("a", "b").schema
    waves.foreach { w =>
      StreamWaves.stage(src, Seq(w.toDF("a", "b")))
      assert(StreamComponents.runAvailableNow(spark, src, schema, "a", "b",
        s"$dir/sink", s"$dir/ckpt") == 1L)
    }
    StreamComponents.currentAssignment(spark, s"$dir/sink")
      .as[(Long, Long)].collect().toSet
  }

  test("standing assignment equals one-shot over the union of waves") {
    val got = drain(Seq(waveA, waveB))
    val want = oneShot.as[(Long, Long)].collect().toSet
    assert(got == want)
    // the bridge merged {1,2,3} and {10,11}: every member relabels to 1
    assert(got == Set((1L, 1L), (2L, 1L), (3L, 1L), (10L, 1L),
      (11L, 1L), (20L, 20L), (21L, 20L)))
  }

  test("wave order is irrelevant: [B, A] converges to the same standing " +
      "assignment as [A, B]") {
    assert(drain(Seq(waveB, waveA)) == drain(Seq(waveA, waveB)))
  }

  test("batch maintainClusters folds a wave onto a standing assignment") {
    val standing = Components
      .connectedComponents(waveA.toDF("a", "b"), "a", "b")
    val got = Components
      .maintainClusters(standing, waveB.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == oneShot.as[(Long, Long)].collect().toSet)
  }

  test("clusterEvolution classifies new/unchanged/grown/merged against " +
      "a hand-built diff") {
    // old: {1,2} (c=1), {5,6} (c=5), {8,9} (c=8)
    val oldA = Seq((1L, 1L), (2L, 1L), (5L, 5L), (6L, 5L), (8L, 8L),
      (9L, 8L)).toDF("id", "cluster_id")
    // new: {1,2,5,6} merged (c=1), {8,9,10} grown (c=8),
    //      {20,21} new (c=20)
    val newA = Seq((1L, 1L), (2L, 1L), (5L, 1L), (6L, 1L), (8L, 8L),
      (9L, 8L), (10L, 8L), (20L, 20L), (21L, 20L)).toDF("id", "cluster_id")
    val got = Components.clusterEvolution(oldA, newA)
      .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 4L, 0L, 2L, 1L, "merged"),
      (8L, 3L, 1L, 1L, 8L, "grown"),
      (20L, 2L, 2L, 0L, -1L, "new")))
    // identity diff: everything unchanged
    val same = Components.clusterEvolution(oldA, oldA)
      .as[(Long, Long, Long, Long, Long, String)].collect()
    assert(same.forall(_._6 == "unchanged"))
  }

  test("a standing singleton joins a wave cluster without losing rows") {
    val standing = Seq((5L, 5L), (1L, 1L), (2L, 1L)).toDF("id", "cluster_id")
    val got = Components
      .maintainClusters(standing, Seq((5L, 9L)).toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 1L), (2L, 1L), (5L, 5L), (9L, 5L)))
  }
  test("dedupWeights: cluster mass sums to one unit per cluster, " +
      "singletons weigh 1e6") {
    val df = Seq(1L, 2L, 3L, 9L).toDF("id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Components.dedupWeights(df, "id", pairs, "a", "b")
      .selectExpr("id", "cluster_id", "cluster_size", "weight_ppm")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 1L, 3L, 333333L), (2L, 1L, 3L, 333333L),
      (3L, 1L, 3L, 333333L), (9L, 9L, 1L, 1000000L)))
  }
}
