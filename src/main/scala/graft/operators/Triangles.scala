package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting — the degree-oriented wedge join
  * (Schank & Wagner 2005; the MapReduce formulation is Suri & Vassilvitskii
  * WWW'11), the graph statistic curation pipelines read as cohesion: a
  * near-dup cluster whose similarity graph is triangle-dense is a true
  * rewrite family, while a chain of pairwise matches with no closing
  * edges is the transitive-closure artifact [[Components]] cannot tell
  * apart. Also the local clustering coefficient's numerator.
  *
  * Scale shape (why orientation matters at 100 TB): counting wedges on
  * the raw graph fans every hub out to deg² candidate pairs — a
  * celebrity node with 10⁶ neighbors mints 10¹² wedges. Orienting every
  * edge from its (degree, id)-smaller endpoint to the larger caps each
  * node's out-degree at O(√m), so total wedge volume is O(m^{3/2}) —
  * the optimal bound — and every triangle is generated EXACTLY ONCE
  * (from its smallest vertex in the total order, toward its two
  * larger ones). All joins are equi-joins on node ids: wedge = oriented
  * ⋈ oriented on the apex, closed by one semi-ish equi-join back on the
  * (b, c) edge. No windows, nothing collects.
  */
object Triangles {

  /** Canonical undirected edges (u < v, deduplicated, self-loops
    * dropped) from an arbitrary pair list. */
  def canonicalEdges(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.select(
        least(col(aCol), col(bCol)).cast("long").as("u"),
        greatest(col(aCol), col(bCol)).cast("long").as("v"))
      .filter(col("u") < col("v"))
      .distinct()

  /** Every triangle of the undirected graph, exactly once, as
    * `(a, b, c)` ordered by the (degree, id) total order. `edges` must
    * be canonical (u < v, distinct — see [[canonicalEdges]]). */
  def triangles(edges: DataFrame): DataFrame = {
    val e = edges.select(col("u"), col("v"))
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient from the (deg, id)-smaller endpoint; carry the head's rank
    // so the wedge join can order its two heads without re-joining deg
    val ranked = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val oriented = ranked.select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("src"), col("v").as("dst"),
            col("dv").as("ddst")))
          .otherwise(struct(col("v").as("src"), col("u").as("dst"),
            col("du").as("ddst"))).as("o"))
      .select(col("o.src"), col("o.dst"), col("o.ddst"))
      // the wedge join reuses this partitioning on both sides
      .repartition(col("src")).localCheckpoint()
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.src") === col("e2.src") &&
          (struct(col("e1.ddst"), col("e1.dst")) <
            struct(col("e2.ddst"), col("e2.dst"))))
      .select(col("e1.src").as("a"), col("e1.dst").as("b"),
        col("e2.dst").as("c"))
    // close the wedge: the (b, c) edge is oriented b → c by construction
    // (b precedes c in the same total order the orientation used)
    wedges.join(oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"), "left_semi")
      .select(col("a"), col("b"), col("c"))
  }

  /** Per-node triangle participation: `(node, n_triangles)` — each
    * triangle credits its three vertices. Nodes in no triangle are
    * absent (join against the node set to zero-fill if needed). */
  def perNodeCounts(edges: DataFrame): DataFrame = {
    val t = triangles(edges)
    t.select(col("a").as("node"))
      .unionAll(t.select(col("b").as("node")))
      .unionAll(t.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
  }

  /** Local clustering coefficient as an EXACT rational — `(node, deg,
    * n_triangles, cc_num, cc_den)` with `cc = cc_num/cc_den =
    * 2·triangles / (deg·(deg−1))`, every node of the graph present
    * (degree-1 nodes report 0/0 → cc_den 0, the standard undefined
    * case, emitted rather than silently dropped). Float coefficients
    * cannot hash-compare across engines; the rational does. One degree
    * aggregation left-joined with [[perNodeCounts]] — no extra wedge
    * work. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    deg.join(perNodeCounts(edges), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (coalesce(col("n_triangles"), lit(0L)) * 2).as("cc_num"),
        (col("deg") * (col("deg") - 1)).as("cc_den"))
  }
}
