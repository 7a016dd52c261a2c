package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.JaroWinklerExpr

/** Record-linkage blocking + scoring: find pairs of rows whose SHORT string
  * key (name, title, address line) is probably the same real-world value —
  * the complement of [[FuzzyDedup]] (whose deletion-neighborhood blocking
  * is complete for edit distance ≤ 1 but blind to anything farther) for
  * typo patterns beyond one edit.
  *
  * Sorted-neighborhood blocking (Hernández & Stolfo's merge/purge): rank
  * every row by its key, compare each row only to its `window` successors
  * in rank order — strings that agree on a long prefix land adjacent, so a
  * small window catches suffix typos, truncations, and appended junk at
  * O(n·window) comparisons. Pairs are scored with the native
  * [[graft.expressions.JaroWinklerExpr]] and thresholded.
  *
  * Scale shape: the global rank is [[Sharding.packShards]] with weight 1 —
  * ONE range exchange on the (key, id) struct plus a broadcast offset
  * join, never a single-task global window. The neighbor pairing is a pure
  * EQUI-join: each row fans out to its `window` successor ranks
  * (`explode(sequence(rn+1, rn+window))`) and matches on rank equality, so
  * the shuffle distributes by rank — no range-join nested loop, no
  * panel-of-w window lag chain. Only the narrow (id, key, rank) projection
  * rides the exchanges.
  *
  * Blocking trade-off, stated plainly: sorted-neighborhood is NOT complete
  * for any edit-distance bound — a leading-character typo sorts far away
  * ("xentity" vs "entity"). Production linkage runs it ALONGSIDE a second
  * pass (deletion-neighborhood, phonetic, or a reversed-key sort) and
  * unions the candidate sets; the q123 oracle restates exactly the
  * windowed semantics, not a completeness claim.
  */
object Linkage {

  /** Sorted-neighborhood candidate pairs with Jaro-Winkler scores:
    * `(id_a, id_b, jw_score)` where id_a precedes id_b in (key, id) sort
    * order, their rank distance is ≤ `window`, and the score is ≥
    * `minScore`. Ids are cast to long; null keys are dropped (they cannot
    * be linked). The (key, id) pair is unique by construction since ids
    * are unique. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              window: Int, minScore: Double): DataFrame = {
    require(window >= 1, "sortedNeighborhoodPairs: window must be >= 1")
    val narrow = df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t"))
      .filter(col("t").isNotNull)
      .withColumn("_graft_sn_key", struct(col("t"), col("id")))
      .withColumn("_graft_one", lit(1L))
    // weight-1 packShards: cum_weight IS the 0-based global rank; the
    // budget only exists to mint shard ids, which we drop
    val ranked = Sharding.packShards(narrow, "_graft_sn_key", "_graft_one",
        budget = Long.MaxValue)
      .select(col("id"), col("t"), col("cum_weight").as("rn"))
    val a = ranked.select(col("id").as("id_a"), col("t").as("_ta"),
      explode(sequence(col("rn") + 1, col("rn") + window)).as("_rn_b"))
    val b = ranked.select(col("id").as("id_b"), col("t").as("_tb"),
      col("rn").as("_rn_b"))
    a.join(b, "_rn_b")
      .withColumn("jw_score", JaroWinklerExpr.jaroWinkler(col("_ta"), col("_tb")))
      .filter(col("jw_score") >= minScore)
      .select(col("id_a"), col("id_b"), col("jw_score"))
  }

  /** Two-pass linkage: sorted-neighborhood UNION deletion-neighborhood
    * (d ≤ 1) candidates, each pair scored once — the standard remedy for
    * the leading-character blind spot of a single sort pass. Pair identity
    * here is the UNORDERED id pair (emitted as min, max). */
  def linkagePairs(df: DataFrame, idCol: String, textCol: String,
                   window: Int, minScore: Double,
                   maxBucket: Int = 256): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
        col(textCol).cast("string").as("t"))
      .filter(col("t").isNotNull)
    val sn = sortedNeighborhoodPairs(base, "id", "t", window, minScore)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"))
    val dn = FuzzyDedup.nearDupPairs(base, "id", "t", maxBucket)
      .select(col("id_a"), col("id_b")) // already min-first
    val cand = sn.unionByName(dn).distinct()
    cand
      .join(base.select(col("id").as("id_a"), col("t").as("_ta")), Seq("id_a"))
      .join(base.select(col("id").as("id_b"), col("t").as("_tb")), Seq("id_b"))
      .withColumn("jw_score", JaroWinklerExpr.jaroWinkler(col("_ta"), col("_tb")))
      .filter(col("jw_score") >= minScore)
      .select(col("id_a"), col("id_b"), col("jw_score"))
  }
}
