package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic synchronous label propagation (Raghavan et al. 2007) —
  * community detection over a relational edge list, the third member of the
  * iterative-graph family next to [[Components]] (connectivity) and
  * [[PageRank]] (centrality). Training-data uses: communities in the
  * document near-dup graph group REWRITE FAMILIES (beyond the exact
  * connected component, which over-merges through chains), and communities
  * in the user-interaction graph slice traffic into behavioural cohorts for
  * stratified sampling.
  *
  * Determinism contract (what makes the operator oracle-checkable where
  * textbook LPA is not): updates are SYNCHRONOUS (round t+1 reads only
  * round t's labels — no update-order dependence), the vote is the exact
  * neighbor-label count (a multigraph edge votes once per copy), and ties
  * break to the SMALLEST label. A node with no in-edges this round keeps
  * its previous label. Every round is therefore a pure function of the
  * edge list — it restates verbatim as one `GROUP BY` + argmax per round
  * in an external engine.
  *
  * Scale shape: the edge list materializes ONCE, hash-partitioned on src
  * (the [[PageRank.pagerank]] pattern), so every iteration moves only the
  * node-sized label table: join labels on src, count votes with a
  * map-side-combining `groupBy(dst, label)`, reduce to the argmax with a
  * second partial-aggregating `min_by` on dst — never a `PARTITION BY dst`
  * window, which would funnel a hub node's full vote list onto one task.
  * Each round ends in a LAZY `localCheckpoint(eager = false)` — plan cut
  * to a leaf per round (no exponential lineage), but with the iteration
  * count fixed no driver read forces per-round materialization, so every
  * round runs inside the caller's single action (the [[PageRank]]
  * job-count fix; per-round RDDs persist on first compute, nothing
  * recomputes).
  */
object LabelProp {

  /** Labels after `iters` synchronous rounds over a DIRECTED edge list
    * (votes flow src → dst; pass a symmetrized list for undirected
    * semantics). Initial label = the node's own id; nodes = src ∪ dst.
    * Output: (node, label). */
  def propagate(edges: DataFrame, srcCol: String, dstCol: String,
                iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    // one edge checkpoint feeds both setup legs, which materialize
    // concurrently (the [[PageRank]] setup shape)
    val e = edges.select(col(srcCol).cast("long").as("src"),
      col(dstCol).cast("long").as("dst"))
      .localCheckpoint()
    // the per-iteration big side, materialized once and partitioned on the
    // join key so only the label table shuffles per round
    val (ed, nodes) = Concurrent.inParallel(
      e.repartition(col("src")).localCheckpoint(),
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct().localCheckpoint())
    var labels = nodes.withColumn("label", col("node"))
    for (_ <- 1 to iters) {
      val votes = ed.join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node"), col("label"))
        .agg(count(lit(1)).as("c"))
      // argmax: max vote count, ties to the smallest label — min_by over
      // the (−count, label) order, partial-aggregated map-side
      val winners = votes.groupBy(col("node"))
        .agg(min_by(col("label"),
          struct((-col("c")).as("nc"), col("label"))).as("_w"))
      labels = labels.join(winners, Seq("node"), "left")
        .select(col("node"), coalesce(col("_w"), col("label")).as("label"))
        .localCheckpoint(eager = false)
    }
    labels
  }
}
