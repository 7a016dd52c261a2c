package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixed-point PageRank — the iterative-graph workload
  * (Pregel-style label/mass propagation) expressed as DataFrame joins, the
  * way a Spark-native engine runs link analysis without a graph library.
  * Training-data uses: centrality inside a document-similarity graph picks
  * the CANONICAL representative of a near-dup cluster, and PageRank over
  * the term co-occurrence graph is TextRank (Mihalcea & Tarau 2004) —
  * corpus keyword salience without supervision.
  *
  * Numeric contract: ranks are FIXED-POINT longs (micro-units of `Scale`),
  * damping is the rational `DampNum/DampDen`, and every step is integer
  * arithmetic — `contrib = rank div deg`, `rank' = base + (Σ contrib ·
  * DampNum) div DampDen`. Long sums commute, so the shuffled aggregation
  * order is irrelevant and the whole iteration restates exactly in an
  * external engine (floating-point PageRank cannot be hash-compared across
  * engines; this one can). The floor losses bound total mass drift by one
  * unit per node per iteration — irrelevant for ranking.
  *
  * Scale shape: the edge list (with out-degrees pre-joined) materializes
  * ONCE and is the reused big side; each iteration shuffles only the
  * node-sized rank table — join ranks on src, partial-aggregate
  * contributions on dst, left-join back to the node set. Each round ends
  * in a LAZY `localCheckpoint(eager = false)`: the logical plan is cut to
  * a leaf immediately (no 3^iters lineage), but — unlike [[Components]],
  * whose convergence loop must read each round on the driver — the fixed
  * iteration count means nothing forces per-round materialization, so all
  * rounds execute inside the ONE job the caller's action launches
  * (measured on q201: 38 jobs → a handful, the per-job fixed cost being
  * the dominant wall at bench scale; at cluster scale the same change
  * removes per-round scheduling barriers). Each round's RDD still persists
  * on first compute (localCheckpoint's storage level), so nothing
  * recomputes.
  */
object PageRank {

  /** Fixed-point 1.0: ranks are micro-units. */
  private val Scale = 1000000L
  /** Damping 0.85 as the rational DampNum / DampDen. */
  private val DampNum = 17L
  private val DampDen = 20L

  /** Ranks after `iters` rounds over a directed edge list. Every node
    * starts at `Scale` (fixed-point 1.0). Nodes = src ∪ dst; a node with
    * no out-edges (dangling) leaks its mass — symmetrize the edge list if
    * conservation matters (the TextRank path does). Output: (node, rank). */
  def pagerank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    // materialize the caller's edge derivation ONCE: ed and nodes below
    // each used to recompute it from scratch (two scans + distincts of
    // the upstream plan); they now both read this checkpoint, and their
    // own (independent) materializations overlap on a 2-thread pool
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    // the per-iteration big side: (src, dst, deg), materialized once and
    // HASH-PARTITIONED ON src — every iteration's rank join then reuses
    // this partitioning and only the node-sized rank table moves; without
    // it the full edge table re-shuffles once per iteration (the actual
    // cost driver at any scale)
    val (ed, nodes) = Concurrent.inParallel(
      e.join(deg, "src").repartition(col("src")).localCheckpoint(),
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct().localCheckpoint())
    val base = Scale * (DampDen - DampNum) / DampDen
    var ranks = nodes.withColumn("rank", lit(Scale))
    for (_ <- 1 to iters) {
      val sums = ed.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (lit(base) +
            expr(s"coalesce(s, bigint(0)) * $DampNum div $DampDen"))
            .as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks
  }

  /** PERSONALIZED fixed-point PageRank (random walk with restart): the
    * damped share of mass teleports back to the SEED set instead of to
    * every node, so ranks measure relevance-to-the-seeds rather than
    * global centrality — the "similar items to this catalog slice" /
    * "accounts near these known-bad actors" primitive. Same integer
    * contract as [[pagerank]] (micro-unit ranks, rational damping,
    * truncating division — restates exactly in SQL); seeds start at
    * `Scale`, everything else at 0, and only seeds receive the restart
    * term. Seeds ride the node table as a 0/1 flag (one broadcast-sized
    * semi-join at setup; iterations move only the node-sized rank
    * frame). */
  def personalizedPagerank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int): DataFrame = {
    require(iters >= 0, "iters must be non-negative")
    // same setup shape as [[pagerank]]: one edge checkpoint feeds both
    // legs, which materialize concurrently
    val e = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"))
      .localCheckpoint()
    val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
    val seedSet = seeds.select(col(seedCol).as("node")).distinct()
      .withColumn("_s", lit(1L))
    val (ed, nodes) = Concurrent.inParallel(
      e.join(deg, "src").repartition(col("src")).localCheckpoint(),
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node")))
        .distinct()
        .join(seedSet, Seq("node"), "left")
        .select(col("node"), coalesce(col("_s"), lit(0L)).as("seed"))
        .localCheckpoint())
    val base = Scale * (DampDen - DampNum) / DampDen
    var ranks = nodes.select(col("node"),
      (col("seed") * Scale).as("rank"))
    for (_ <- 1 to iters) {
      val sums = ed.join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), expr("rank div deg").as("c"))
        .groupBy("node").agg(sum(col("c")).as("s"))
      ranks = nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (col("seed") * base +
            expr(s"coalesce(s, bigint(0)) * $DampNum div $DampDen"))
            .as("rank"))
        .localCheckpoint(eager = false)
    }
    ranks
  }

  /** TextRank co-occurrence edges: adjacent-token pairs with corpus count
    * ≥ `minCount`, symmetrized and deduplicated — an undirected graph (no
    * dangling nodes by construction). */
  def textRankEdges(df: DataFrame, idCol: String, textCol: String,
                    minCount: Long): DataFrame = {
    val bg = graft.functions.TermStats.bigramPairs(df, idCol, textCol)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount)
    bg.select(col("w1").as("src"), col("w2").as("dst"))
      .unionByName(bg.select(col("w2").as("src"), col("w1").as("dst")))
      .distinct()
  }

  /** TextRank keyword salience: the `k` highest-PageRank terms of the
    * corpus co-occurrence graph. Ties break on the term. */
  def textRank(df: DataFrame, idCol: String, textCol: String,
               minCount: Long, iters: Int, k: Int): DataFrame =
    pagerank(textRankEdges(df, idCol, textCol, minCount),
        "src", "dst", iters)
      .withColumnRenamed("node", "term")
      .orderBy(col("rank").desc, col("term"))
      .limit(k)
}
