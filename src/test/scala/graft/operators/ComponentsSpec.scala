package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Large-star/small-star connected components: transitive closure of
  * near-dup pairs into clusters labeled by the component minimum. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(pairs.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  /** Reference union-find for cross-checks. */
  private def naive(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    // min-of-component labeling
    val byRoot = nodes.groupBy(find)
    byRoot.flatMap { case (_, ns) => ns.map(_ -> ns.min) }.toMap
  }

  test("transitive chains merge: A~B, B~C puts A,B,C in one cluster") {
    assert(cc(Seq((1L, 2L), (2L, 3L), (10L, 11L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("a 200-node path converges (O(log n) rounds, not O(n))") {
    // maxRounds=30 would be blown by per-round-halving... a path is the
    // adversarial case for label propagation (diameter 200)
    val path = (0L until 199L).map(i => (i, i + 1))
    val got = cc(path)
    assert(got.size == 200 && got.values.forall(_ == 0L))
  }

  test("matches union-find on a random graph (seeded)") {
    val rnd = new scala.util.Random(7)
    val pairs = (0 until 300).map(_ =>
      (rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter(p => p._1 != p._2)
    assert(cc(pairs) == naive(pairs))
  }

  test("edge order and direction do not matter") {
    val pairs = Seq((5L, 9L), (9L, 2L), (7L, 5L))
    assert(cc(pairs) == cc(pairs.reverse.map(p => (p._2, p._1))))
  }

  test("null and self pairs are ignored; empty input yields empty output") {
    val pairs = Seq((Some(1L), Some(1L)), (Some(2L), None), (None, Some(3L)))
      .toDF("a", "b")
    assert(Components.connectedComponents(pairs, "a", "b").count() == 0)
  }

  test("assignClusters labels absent ids as their own singleton cluster") {
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z"), (4L, "w")).toDF("id", "t")
    val out = Components.assignClusters(docs, "id",
        Seq((2L, 4L)).toDF("a", "b"), "a", "b")
      .select($"id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 2L))
  }

  test("cluster labels are idempotent (label of a label is itself)") {
    val rnd = new scala.util.Random(11)
    val pairs = (0 until 150).map(_ =>
      (rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter(p => p._1 != p._2)
    val lbl = cc(pairs)
    lbl.foreach { case (_, c) => assert(lbl.getOrElse(c, c) == c) }
  }

  test("representatives flags the highest-score member per cluster, ties " +
       "to the smallest id, null scores last, all-null falls back to min id") {
    val df = Seq(
      (1L, Some(10.0)), (2L, Some(30.0)), (3L, Some(30.0)), // cluster A: 2 wins tie
      (7L, None),                                            // singleton, null score
      (8L, Some(5.0)), (9L, None))                           // cluster B: 8 beats null
      .toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (8L, 9L)).toDF("id_a", "id_b")
    val clustered = Components.assignClusters(df, "id", pairs, "id_a", "id_b")
    val got = Components.representatives(clustered, "id", "score")
      .select($"id", $"is_canonical").as[(Long, Boolean)].collect().toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false,
      7L -> true, 8L -> true, 9L -> false))
    // the pick is a partial-aggregating min_by, never a cluster window
    val plan = Components.representatives(clustered, "id", "score")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
  }
}
