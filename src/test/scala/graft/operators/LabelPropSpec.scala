package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Synchronous label propagation: deterministic community detection —
  * plurality vote of neighbor labels, ties to the smallest label, rounds
  * read only the previous round's labels. */
class LabelPropSpec extends SparkSpec {
  import spark.implicits._

  private def lp(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] =
    LabelProp.propagate(edges.toDF("src", "dst"), "src", "dst", iters)
      .as[(Long, Long)].collect().toMap

  /** Reference implementation: literal synchronous rounds on the driver. */
  private def naive(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    var labels = nodes.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      val votes = edges.groupBy(_._2).map { case (dst, es) =>
        val counts = es.groupBy(e => labels(e._1)).view.mapValues(_.size)
        // max count, tie to smallest label
        dst -> counts.toSeq.minBy { case (l, c) => (-c, l) }._1
      }
      labels = labels.map { case (n, l) => n -> votes.getOrElse(n, l) }
    }
    labels
  }

  test("iters=0 is the identity labeling over src ∪ dst") {
    assert(lp(Seq((1L, 2L), (3L, 4L)), 0) ==
      Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("plurality vote wins over the min label") {
    // round 1: node 6 adopts 5 (sole in-edge 5→6), 5 keeps 5 (tie of
    // {5,6}), 1 keeps 1 (self-loop); round 2: node 10 hears {1:1, 5:2}
    // — 5 wins despite 1 < 5
    val e = Seq((1L, 1L), (1L, 10L), (5L, 10L), (6L, 10L),
      (5L, 5L), (5L, 6L), (6L, 5L))
    assert(lp(e, 2)(10L) == 5L)
  }

  test("ties break to the smallest label") {
    // node 10 hears {1} once and {5} once — tie, 1 wins
    val r = lp(Seq((1L, 10L), (5L, 10L)), 1)
    assert(r(10L) == 1L)
  }

  test("multigraph edges vote once per copy") {
    // duplicated (5,10) edge outvotes the single (1,10)
    val r = lp(Seq((1L, 10L), (5L, 10L), (5L, 10L)), 1)
    assert(r(10L) == 5L)
  }

  test("updates are synchronous: round 2 reads only round-1 labels") {
    // chain 1 -> 2 -> 3: after one round l(2)=1, l(3)=2; after two
    // rounds l(3)=1 — an asynchronous sweep would give l(3)=1 in ONE
    // round, so the one-round value pins synchrony
    val chain = Seq((1L, 2L), (2L, 3L))
    assert(lp(chain, 1)(3L) == 2L)
    assert(lp(chain, 2)(3L) == 1L)
  }

  test("a node with no in-edges keeps its previous label") {
    // 7 only emits votes, never receives — stays 7 at any depth
    assert(lp(Seq((7L, 8L)), 3)(7L) == 7L)
  }

  test("matches the literal synchronous reference on a random graph") {
    val rng = new scala.util.Random(42)
    val edges = Seq.fill(300)((rng.nextInt(40).toLong, rng.nextInt(40).toLong))
    val sym = edges ++ edges.map(_.swap)
    for (it <- Seq(1, 3)) assert(lp(sym, it) == naive(sym, it))
  }

  test("communities rolls up member counts per surviving label") {
    // two triangles: {1,2,3} and {10,11,12}
    def tri(a: Long, b: Long, c: Long) =
      Seq((a, b), (b, c), (a, c)).flatMap(e => Seq(e, e.swap))
    val out = LabelProp.propagate(
        (tri(1, 2, 3) ++ tri(10, 11, 12)).toDF("src", "dst"),
        "src", "dst", iters = 3)
      .groupBy($"label").count()
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 10L -> 3L))
  }
}
