package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components over a near-duplicate pair list — the
  * step that turns pairwise dedup output (MinHash / SimHash / n-gram /
  * cosine candidates, `functions/Dedup.scala`) into CLUSTERS, so a curation
  * pipeline can keep one canonical document per duplicate group even when
  * similarity is only transitive (A~B, B~C, but A and C never paired).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14) — each round is
  * a constant number of hash-partitioned aggregations and joins on the edge
  * list (no driver-side graph state, nothing collected), and the edge set
  * converges to per-component stars pointing at the component minimum in
  * O(log n) rounds even on adversarial path graphs. A plain min-label
  * propagation needs O(diameter) rounds — a 10⁶-long clone chain would take
  * 10⁶ shuffles; this takes ~20.
  *
  *   - large-star(u): every neighbor v > u re-points to m(u) = min(Γ(u) ∪
  *     {u}) — long chains halve;
  *   - small-star(u): every neighbor v < u plus u itself re-point to
  *     m(u) = min of the smaller neighborhood — stars flatten.
  *
  * Scale posture: per round, 2 aggregations + 2 joins, all keyed on node id
  * (longs — no skew from wide payloads; a hot component minimum is bounded
  * by its component size, which LSH bucket caps already bound upstream).
  * Convergence is detected EXACTLY (set equality, never a lossy
  * fingerprint): the round's deduplicating groupBy is tagged with each
  * edge's origin (new round vs previous set), so "shrunk == e" reads off
  * the round's one checkpointed frame as a filter — one driver action per
  * round, not a materialize-then-recheck pair. The stars reference their
  * input twice (symmetrization), but within a single query Spark's
  * ReuseExchange computes the shared shuffle once, and the checkpoint at
  * the round boundary stops the logical plan from doubling round over
  * round — without it the optimizer itself becomes the bottleneck.
  */
object Components {

  /** Round cap: the alternating stars converge in O(log n) rounds, so a
    * run past 30 is a bug and fails loudly. */
  private val MaxRounds = 30

  /** Connected components of the undirected graph given as a pair list.
    * Returns one row per node appearing in `pairs`: (`id`, `cluster_id`)
    * where `cluster_id` is the MINIMUM node id of the component — the
    * deterministic canonical-representative convention the dedup keepers
    * already use (`Dedup.exactDedup` keeps the min id).
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    var e = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
      .localCheckpoint()
    // verts recomputes from the checkpointed initial edge set (two cheap
    // scans) — persisting it here would leak the cache entry past return,
    // since the caller's action is the only thing that ever reads it
    val verts = e.select(col("u").as("id"))
      .union(e.select(col("v").as("id"))).distinct()
    var converged = e.isEmpty
    var round = 0
    while (!converged && round < MaxRounds) {
      // No shuffle job for the convergence check: the tagged groupBy that
      // dedups the round's output (smallStar's trailing set semantics)
      // ALSO records, per edge, whether it came from the new round
      // (_mx = 1) and/or the previous set (_mn = 0) — so the exact
      // set-equality check is a filter over the already-checkpointed frame
      // (its own small job) instead of a second union+groupBy job
      // re-shuffling both edge sets
      val tagged = smallStarRaw(largeStar(e)).withColumn("_t", lit(1))
        .union(e.select(col("u"), col("v"), lit(0).as("_t")))
        .groupBy("u", "v")
        .agg(max(col("_t")).as("_mx"), min(col("_t")).as("_mn"))
        .localCheckpoint()
      // shrunk == e as sets iff every edge appears on BOTH sides
      converged = tagged.filter(col("_mx") =!= 1 || col("_mn") =!= 0).isEmpty
      e = tagged.filter(col("_mx") === 1).select(col("u"), col("v"))
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $MaxRounds rounds")
    // at the fixpoint every edge points from a node to its component min;
    // min() collapses any residual multi-edges. Roots carry no out-edge —
    // they label themselves via the left join.
    val labels = e.groupBy("u").agg(min("v").as("cluster_id"))
      .withColumnRenamed("u", "id")
    verts.join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** large-star: for each node u, re-point every LARGER neighbor at
    * m(u) = min(Γ(u) ∪ {u}). The output may carry duplicate edges — the
    * composing [[smallStar]] is duplicate-insensitive (min aggregations)
    * and its trailing distinct restores the set property, so a distinct
    * here would only add a shuffle per round. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** small-star: for each node u, re-point every SMALLER neighbor and u
    * itself at the minimum of the smaller neighborhood. RAW: may carry
    * duplicate edges — the caller's tagged groupBy restores the set
    * property (and reads convergence off the same aggregation). */
  private def smallStarRaw(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("v").as("u"), col("u").as("v")))
    val lt = sym.filter(col("v") < col("u"))
    val mins = lt.groupBy("u").agg(min("v").as("m"))
    val toNeighbors = lt.join(mins, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
    val toSelf = mins.select(col("u"), col("m").as("v"))
    toNeighbors.union(toSelf)
  }

  /** INCREMENTAL cluster maintenance: fold a wave of new near-dup pairs
    * into a standing assignment `(id, cluster_id)` — the dedup family's
    * maintenance member. At warehouse scale the daily edge delta is tiny
    * against the standing cluster table, so recomputing components over
    * ALL historical pairs each day is the wrong plan; instead the
    * standing assignment is itself replayed as a STAR FOREST (one edge
    * `id → cluster_id` per non-root member), unioned with the new wave,
    * and re-converged. Stars are connectivity-preserving (every
    * historical component stays one component) and id-preserving (the
    * component minimum of the union graph is the true minimum over all
    * waves, because star edges only reference ids that exist), so the
    * result row-matches a one-shot [[connectedComponents]] over the
    * union of every wave — and since set union commutes, the standing
    * assignment is WAVE-ORDER INVARIANT. Cost per wave:
    * O(standing + delta) edges, converging in very few rounds because
    * the standing part is already star-shaped — only chains introduced
    * by cluster-merging delta edges need flattening.
    *
    * Output: one row per id in `standing` ∪ the wave's endpoints;
    * singleton ids (no edges ever) label themselves. */
  def maintainClusters(standing: DataFrame, newPairs: DataFrame,
                       aCol: String, bCol: String): DataFrame = {
    val starEdges = standing
      .select(col("id").cast("long").as("u"),
        col("cluster_id").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
    val waveEdges = newPairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v"))
    val allIds = standing.select(col("id").cast("long").as("id"))
      .union(waveEdges.select(col("u").as("id")))
      .union(waveEdges.select(col("v").as("id")))
      .distinct()
    val labels = connectedComponents(
      starEdges.union(waveEdges), "u", "v")
    allIds.join(labels, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Duplicate-DISCOUNTED training weights — the soft alternative to
    * dropping near-duplicates: every member of a duplicate cluster
    * keeps its row but carries `weight_ppm = 10⁶ div cluster_size`,
    * so each CLUSTER (not each copy) contributes one unit of training
    * mass — the standard repetition-discount when dedup would lose
    * legitimate variation (boilerplate-heavy domains, templated
    * pages). Singletons weigh 10⁶. One size aggregate over the
    * [[assignClusters]] output; truncating integer division restates
    * exactly. */
  def dedupWeights(df: DataFrame, idCol: String, pairs: DataFrame,
                   aCol: String, bCol: String): DataFrame = {
    val clustered = assignClusters(df, idCol, pairs, aCol, bCol)
    val sizes = clustered.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
    clustered.join(sizes, Seq("cluster_id"))
      .withColumn("weight_ppm",
        expr("CAST(1000000 AS BIGINT) div cluster_size"))
  }

  /** Cluster EVOLUTION telemetry between two assignments — the release
    * note for a dedup refresh: after folding a new wave
    * ([[maintainClusters]] / [[graft.streaming.StreamComponents]]), say
    * per standing cluster whether it is `new` (all members unseen),
    * `unchanged` (exactly one old cluster, intact, no new members),
    * `grown` (one old cluster plus new members), or `merged` (members
    * from ≥ 2 old clusters — the relabel-heavy case a reviewer audits
    * first). `top_source` is the old cluster contributing the most
    * members (ties to the smallest id; −1 for `new`).
    *
    * Exact integers off the (old, new) overlap contingency — two
    * cluster-cardinality aggregates, one id-keyed join; the only window
    * ranks each new cluster's SOURCE list (bounded by merge fan-in,
    * not member count). */
  def clusterEvolution(oldAssign: DataFrame,
                       newAssign: DataFrame): DataFrame = {
    val o = oldAssign.select(col("id"), col("cluster_id").as("old_c"))
    val n = newAssign.select(col("id"), col("cluster_id").as("new_c"))
    val ov = n.join(o, Seq("id"), "left")
      .groupBy(col("new_c"), col("old_c"))
      .agg(count(lit(1)).as("shared"))
    val oldSize = o.groupBy(col("old_c")).agg(count(lit(1)).as("old_size"))
    val wTop = org.apache.spark.sql.expressions.Window
      .partitionBy(col("new_c"))
      .orderBy(col("shared").desc, col("old_c"))
    val top = ov.filter(col("old_c").isNotNull)
      .withColumn("_rn", row_number().over(wTop))
      .filter(col("_rn") === 1)
      .select(col("new_c"), col("old_c").as("top_source"),
        col("shared").as("top_shared"))
    val agg = ov.groupBy(col("new_c"))
      .agg(sum(col("shared")).as("n_members"),
        coalesce(sum(when(col("old_c").isNull, col("shared"))), lit(0L))
          .as("n_new_members"),
        count(when(col("old_c").isNotNull, lit(1))).as("n_sources"))
    agg.join(top, Seq("new_c"), "left")
      .join(oldSize.withColumnRenamed("old_c", "top_source"),
        Seq("top_source"), "left")
      .select(col("new_c").as("cluster_id"), col("n_members"),
        col("n_new_members"), col("n_sources"),
        coalesce(col("top_source"), lit(-1L)).as("top_source"),
        when(col("n_sources") === 0, lit("new"))
          .when(col("n_sources") >= 2, lit("merged"))
          .when(col("n_new_members") === 0 &&
            col("top_shared") === col("old_size"), lit("unchanged"))
          .otherwise(lit("grown")).as("status"))
  }

  /** Label every row of `df` with its duplicate-cluster id: nodes absent
    * from the pair list are their own singleton cluster. The join against
    * the component labels is keyed on the id — at warehouse scale the
    * label side is bounded by the number of pair-participating docs, not
    * the corpus. */
  def assignClusters(df: DataFrame, idCol: String, pairs: DataFrame,
                     aCol: String, bCol: String): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol)
      .withColumnRenamed("id", idCol)
    df.join(labels, Seq(idCol), "left")
      .withColumn("cluster_id",
        coalesce(col("cluster_id"), col(idCol).cast("long")))
  }

  /** Dedup telemetry off a cluster-labeled frame (the
    * [[assignClusters]] output): the cluster-SIZE histogram
    * `(cluster_size, n_clusters, n_docs)` — the release-note numbers a
    * dedup pass reports (how much of the corpus sits in duplicate
    * mass, and whether it's many small clusters or one pathological
    * giant; the latter is usually a join-key bug, not data). Dup rate
    * derives as `1 − Σn_clusters / Σn_docs`. Two map-side-combinable
    * aggregations, cluster-cardinality intermediate. */
  def clusterSizeHistogram(clustered: DataFrame): DataFrame =
    clustered.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))

  /** QUALITY-weighted representative selection: flag, in a
    * cluster-labeled frame (the [[assignClusters]] output), the one
    * member per cluster with the HIGHEST `scoreCol` (ties to the
    * smallest id) as `is_canonical`. Min-id dedup keeps whichever
    * duplicate crawled first; real curation keeps the best version —
    * longest text, highest quality score, newest fetch — and drops the
    * rest. The pick is a partial-aggregating min_by over
    * (−score, id) — never a PARTITION BY cluster window, which would
    * move whole clusters (unbounded under near-dup skew) onto single
    * tasks. Null scores lose to any non-null score (NaN ordering puts
    * them last); an all-null cluster falls back to the min id. */
  def representatives(clustered: DataFrame, idCol: String,
                      scoreCol: String): DataFrame = {
    val ord = struct(
      coalesce(negate(col(scoreCol).cast("double")),
        lit(Double.PositiveInfinity)).as("_s"),
      col(idCol).cast("long").as("_i"))
    val best = clustered.groupBy(col("cluster_id"))
      .agg(min_by(col(idCol), ord).as("_graft_rep"))
    clustered.join(best, Seq("cluster_id"))
      .withColumn("is_canonical", col(idCol) === col("_graft_rep"))
      .drop("_graft_rep")
  }
}
