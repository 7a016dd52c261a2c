package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

import graft.expressions.{KllSketchAgg, KmvMergeAgg, KmvSketchAgg, QuantileSketchAgg}

/** Mergeable cardinality sketches for corpus observability at 100 TB:
  * "how many distinct tokens / urls / fingerprints per source" without an
  * exact-distinct shuffle, with per-shard sketches that union into corpus
  * totals by array merge alone.
  *
  * The KMV sketch (bottom-k distinct md5-hash60 values) is chosen over
  * HyperLogLog because it is DETERMINISTIC given the hash function: an
  * external engine restates the exact sketch with `row_number() ≤ k` over
  * distinct hashes, so the whole estimator is oracle-checkable — same
  * portability seam as the simhash/span-hash operators (see
  * [[graft.expressions.SimHashPortableExpr]]).
  *
  * Reference scope: the reference tracks volume only as exact extract row
  * counts (`utilities/utilities.py:69-82` reconciliation); cardinality
  * telemetry at corpus scale is beyond-reference, part of this engine's
  * training-data extension surface.
  */
object Sketches {

  /** 2^60 as an exactly-representable double — the hash-space width. */
  val Hash60Width: Double = 1152921504606846976.0

  /** Portable 60-bit value hash (md5 top 15 hex digits), non-negative.
    * DuckDB: `('0x' || substring(md5(t), 1, 15))::BIGINT`. Computed by the
    * fused [[graft.expressions.Hash60Expr]] kernel — bit-exact with
    * `conv(substring(md5(t), 1, 15), 16, 10)` (pinned by Hash60ExprSpec)
    * without the per-value hex render + base-16 re-parse. */
  def hash60(t: Column): Column =
    graft.expressions.Hash60Expr.hash60(t.cast("binary"))

  /** Aggregate: the sorted array of the `k` smallest distinct values of a
    * bigint hash column. Partial state is ≤ k longs — map-side combined.
    *
    * Operational note for MANY groups (e.g. per-document sketches):
    * object aggregates fall back to sort-based aggregation past
    * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` in-memory
    * keys (default 128); raise it when the group count per partition is
    * large and memory allows — the sketch buffers are k longs each, so
    * thousands of in-flight groups are cheap. */
  def kmvSketch(hash: Column, k: Int): Column =
    ColumnBridge.column(
      KmvSketchAgg(ColumnBridge.expression(hash), k).toAggregateExpression())

  /** Aggregate: union of sketch arrays into one bottom-k sketch —
    * identical to sketching the union of the underlying inputs. */
  def kmvMerge(sketch: Column, k: Int): Column =
    ColumnBridge.column(
      KmvMergeAgg(ColumnBridge.expression(sketch), k).toAggregateExpression())

  /** Aggregate: the k highest-weighted (item, weight) pairs as an
    * array<struct<item,weight>> ordered (weight DESC, item ASC).
    * Partial state is ≤ k entries per group per partition — the bounded
    * alternative to collect_list-then-sort, whose partial state is the
    * whole group (see [[graft.expressions.TopKAgg]]). Pre-aggregate to
    * one row per item first. */
  def topK(item: Column, weight: Column, k: Int): Column =
    ColumnBridge.column(
      graft.expressions.TopKAgg(ColumnBridge.expression(item),
        ColumnBridge.expression(weight), k).toAggregateExpression())

  /** Aggregate: the k LOWEST-scored (id, score) pairs as an
    * array<struct<id,score>> ordered (score ASC, id ASC) — the
    * nearest-neighbor result shape. Partial state is ≤ k entries per
    * group per partition (map-side combined), the bounded alternative to
    * a PARTITION BY group sort window whose per-group candidate set is a
    * corpus fraction (see [[graft.expressions.BottomKAgg]]). Requires
    * (bigint id, double score); NaN scores are rejected loudly. */
  def bottomKByScore(id: Column, score: Column, k: Int): Column =
    ColumnBridge.column(
      graft.expressions.BottomKAgg(ColumnBridge.expression(id),
        ColumnBridge.expression(score), k).toAggregateExpression())

  /** Distinct-count estimate from a sketch: exact size when the sketch is
    * not full, else `(k−1) / (h_k / 2^60)`. Every step is IEEE double
    * arithmetic on deterministic operands — engine-portable. */
  def kmvEstimate(sketch: Column, k: Int): Column =
    when(size(sketch) < k, size(sketch).cast("double"))
      .otherwise(lit((k - 1).toDouble) /
        (element_at(sketch, k).cast("double") / lit(Hash60Width)))

  /** Aggregate: HyperLogLog register file (`m = 2^p` ints) of a bigint
    * hash column — constant-size distinct-cardinality state (vs KMV's
    * k longs), deterministic on the md5 `hash60` seam so an external
    * engine restates every register. Partial state is m bytes. */
  def hllSketch(hash: Column, p: Int): Column =
    ColumnBridge.column(
      graft.expressions.HllSketchAgg(ColumnBridge.expression(hash), p)
        .toAggregateExpression())

  /** Aggregate: element-wise-max union of HLL register files — identical
    * to sketching the union of the underlying inputs. */
  def hllMerge(registers: Column, p: Int): Column =
    ColumnBridge.column(
      graft.expressions.HllMergeAgg(ColumnBridge.expression(registers), p)
        .toAggregateExpression())

  /** Cardinality estimate from an HLL register file: the Flajolet et al.
    * raw estimate `α_m·m²/Σ 2^(−M_j)` with the small-range
    * linear-counting correction (`m·ln(m/V)` when E ≤ 2.5m and V zero
    * registers remain). Deterministic double arithmetic over the integer
    * registers — but prefer gating on the REGISTERS (q136) and treating
    * the estimate as derived. */
  def hllEstimate(registers: Column, p: Int): Column = {
    val m = 1 << p
    val alpha = m match {
      case 16 => 0.673
      case 32 => 0.697
      case 64 => 0.709
      case _ => 0.7213 / (1.0 + 1.079 / m)
    }
    val s = aggregate(registers, lit(0.0),
      (acc, r) => acc + pow(lit(2.0), -r.cast("double")))
    val zeros = size(filter(registers, _ === 0))
    val raw = lit(alpha * m.toDouble * m.toDouble) / s
    when(raw <= lit(2.5 * m) && zeros > 0,
        lit(m.toDouble) * log(lit(m).cast("double") / zeros.cast("double")))
      .otherwise(raw)
  }

  /** Count-min sketch depth d: hash rows per item. */
  val CountMinDepth = 4

  /** Count-min sketch width w: buckets per hash row. */
  val CountMinWidth = 1024

  /** Count-min sketch cells over an item-occurrence frame (one row per
    * occurrence): `d` = [[CountMinDepth]] deterministic hash rows × `w` =
    * [[CountMinWidth]] buckets, each cell the
    * total count of items landing in it. The sketch is a TINY (≤ d·w)-row
    * frame — merge sketches of two corpora by unioning cells and summing;
    * at 100 TB the sketch build is ONE map-side-combining aggregation with
    * a d·w-bounded key space (vs the vocabulary-sized shuffle an exact
    * count table needs), and any item's frequency is answerable from the
    * summary without touching the corpus again.
    *
    * Determinism: row r's bucket is `hash60(r || ':' || item) mod w` on
    * the md5 seam — no seed, so an external engine rebuilds the identical
    * cells. */
  def countMinCells(occurrences: DataFrame, itemCol: String): DataFrame =
    occurrences
      .select(explode(sequence(lit(0), lit(CountMinDepth - 1))).as("depth"),
        col(itemCol).as("_it"))
      .withColumn("bucket",
        pmod(hash60(concat_ws(":", col("depth"), col("_it"))),
          lit(CountMinWidth.toLong)))
      .groupBy(col("depth"), col("bucket"))
      .agg(count(lit(1)).as("c"))

  /** Point estimates from count-min cells: for each distinct item in
    * `items(itemCol)`, the minimum of its d cells — an overestimate of
    * the true count (never under; error bounded by N·e/w with prob
    * 1−e^−d). The probe side is |items|·d rows joined against the tiny
    * cell frame — broadcast. The join is LEFT with an absent cell read as
    * count 0 (a bucket missing from the cell frame had no occurrences),
    * so an item the corpus never saw reports `est_count = 0` rather than
    * vanishing from the output — and min-over-all-d-cells is the true CMS
    * estimate, not min-over-the-cells-that-happened-to-collide. */
  def countMinEstimate(cells: DataFrame, items: DataFrame,
                       itemCol: String): DataFrame =
    items.select(col(itemCol)).distinct()
      .select(col(itemCol),
        explode(sequence(lit(0), lit(CountMinDepth - 1))).as("depth"))
      .withColumn("bucket",
        pmod(hash60(concat_ws(":", col("depth"), col(itemCol))),
          lit(CountMinWidth.toLong)))
      .join(broadcast(cells), Seq("depth", "bucket"), "left")
      .groupBy(col(itemCol))
      .agg(min(coalesce(col("c"), lit(0L))).as("est_count"))

  /** Aggregate: bounded mergeable quantile sketch — the distinct-value
    * histogram restricted to the `capacity` smallest-hash values, each
    * with its EXACT total weight, emitted value-ascending as
    * `array<struct<value,count>>`. Deterministic under any partitioning
    * (a pure set function — unlike GK/KLL, whose summaries depend on
    * arrival order), exact when the group has ≤ capacity distinct
    * values, and restatable in SQL even when saturated (`row_number() ≤
    * capacity` over hash-ordered distinct values). `hash` must be
    * [[hash60]] of the value's string rendering; see
    * [[graft.expressions.QuantileSketchAgg]]. */
  def quantileSketch(hash: Column, value: Column, weight: Column,
                     capacity: Int): Column =
    ColumnBridge.column(
      QuantileSketchAgg(ColumnBridge.expression(hash),
        ColumnBridge.expression(value), ColumnBridge.expression(weight),
        capacity).toAggregateExpression())

  /** Quantile estimate from a sketch column given a MATERIALIZED total
    * (a bound attribute, not an inline aggregate — higher-order functions
    * re-evaluate captured expressions per element, so an inline total
    * turns the O(capacity) scan into O(capacity²)): the smallest sketch
    * value whose running count reaches `ceil(q · total)` (floored at rank
    * 1 so q = 0 means the minimum). Empty sketch → null. */
  def sketchQuantile(sketch: Column, total: Column, q: Double): Column = {
    require(q >= 0.0 && q <= 1.0, s"quantile must be in [0,1], got $q")
    val target = greatest(lit(1L),
      ceil(lit(q) * total.cast("double")).cast("long"))
    aggregate(sketch,
      struct(lit(0L).as("cum"), lit(null).cast("long").as("ans")),
      (acc, s) => struct(
        (acc.getField("cum") + s.getField("count")).as("cum"),
        coalesce(acc.getField("ans"),
          when(acc.getField("cum") + s.getField("count") >= target,
            s.getField("value"))).as("ans"))).getField("ans")
  }

  /** Per-group quantile report via [[quantileSketch]]: one row per group
    * with the sketch size, the in-sketch mass, and one column per
    * requested (name, q). ONE map-side-combining aggregation with ≤
    * capacity entries of partial state per group per partition — the
    * scale path where `percentile()`'s exact per-group value buffer
    * (state ∝ distinct values) stops fitting. Quantiles are exact
    * whenever `sketch_size < capacity` (then the sketch is the full
    * histogram). */
  def groupQuantiles(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     qs: Seq[(String, Double)], capacity: Int): DataFrame = {
    require(qs.nonEmpty, "need at least one (name, quantile)")
    val prepared = df.select(
      groupCols.map(col) ++ Seq(
        hash60(col(valueCol).cast("string")).as("_graft_h"),
        col(valueCol).cast("long").as("_graft_v")): _*)
    val sk = prepared.groupBy(groupCols.map(col): _*)
      .agg(quantileSketch(col("_graft_h"), col("_graft_v"), lit(1L),
        capacity).as("_graft_sk"))
      // projection boundary: total must be a bound attribute before any
      // sketchQuantile lambda captures it (see sketchQuantile note)
      .withColumn("_graft_total",
        aggregate(col("_graft_sk"), lit(0L),
          (acc, s) => acc + s.getField("count")))
    sk.select(
      groupCols.map(col) ++ Seq(
        size(col("_graft_sk")).cast("long").as("sketch_size"),
        col("_graft_total").as("sketch_mass")) ++
        qs.map { case (name, q) =>
          sketchQuantile(col("_graft_sk"), col("_graft_total"), q).as(name)
        }: _*)
  }

  /** Aggregate: KLL-style bounded-RANK-error quantile sketch over a
    * bigint column — the HIGH-CARDINALITY companion to [[quantileSketch]]
    * (which stays the exact/oracle path below capacity): `k`-item level
    * buffers with weight 2^level, deterministic alternating compaction,
    * O(k·log(n/k)) longs of mergeable partial state. The summary is
    * order-dependent (inherent to compaction sketches) so gates assert
    * its rank-error bound against exact quantiles rather than hashing
    * it; see [[graft.expressions.KllSketchAgg]]. */
  def kllSketch(value: Column, k: Int): Column =
    ColumnBridge.column(
      KllSketchAgg(ColumnBridge.expression(value), k).toAggregateExpression())

  /** Total mass of a KLL sketch: Σ 2^level over its entries — EXACTLY
    * the number of inserted values (compaction is weight-preserving;
    * spec-pinned). */
  def kllMass(sketch: Column): Column =
    aggregate(sketch, lit(0L), (acc, e) =>
      acc + call_function("shiftleft", lit(1L), e.getField("level")))

  /** Quantile estimate from a KLL sketch given a MATERIALIZED total
    * (the [[sketchQuantile]] binding discipline): the smallest sketch
    * value whose cumulative weight (value-ascending) reaches
    * `ceil(pNum/pDen · total)`, floored at rank 1. Rank error is the
    * sketch's compaction bound — q285 asserts it against exact
    * quantiles in-gate. Empty sketch → null. */
  def kllQuantile(sketch: Column, total: Column, pNum: Long,
                  pDen: Long): Column = {
    require(pDen > 0 && pNum >= 0 && pNum <= pDen,
      s"kllQuantile: need 0 <= pNum/pDen <= 1, got $pNum/$pDen")
    val target = greatest(lit(1L),
      ceil(lit(pNum) * total.cast("double") / lit(pDen)).cast("long"))
    val byValue = array_sort(sketch, (a, b) =>
      when(a.getField("value") < b.getField("value"), -1)
        .when(a.getField("value") > b.getField("value"), 1)
        .otherwise(0))
    aggregate(byValue,
      struct(lit(0L).as("cum"), lit(null).cast("long").as("ans")),
      (acc, s) => {
        val w = call_function("shiftleft", lit(1L), s.getField("level"))
        struct(
          (acc.getField("cum") + w).as("cum"),
          coalesce(acc.getField("ans"),
            when(acc.getField("cum") + w >= target,
              s.getField("value"))).as("ans"))
      }).getField("ans")
  }

  /** Set-overlap estimates from two KMV sketches — the join-size
    * estimator: bottom-k(A) ∪ bottom-k(B) trimmed to k IS bottom-k(A∪B)
    * (bottom-k is a pure set function), so `|S ∩ skA ∩ skB| / |S|` is
    * the standard KMV Jaccard estimate and
    * `est_intersection = J · est_union` estimates the DISTINCT-key
    * overlap — the number a planner needs to size an equi-join or pick
    * a broadcast side WITHOUT touching either table again (the sketches
    * come from [[distinctReport]]-style passes or a stats table built by
    * [[graft.operators.TableStats]]). Every step is deterministic
    * integer/IEEE arithmetic on deterministic operands — the q121 oracle
    * restates the estimator verbatim, not just its answer.
    *
    * O(k²) membership probes per sketch pair (array_contains over sorted
    * arrays) — one pair is one row; estimating a whole catalog's
    * join graph is |tables|² such rows, trivially small. */
  def kmvOverlap(skA: Column, skB: Column, k: Int): Column = {
    val merged = slice(array_sort(array_union(skA, skB)), 1, k)
    val unionEst = kmvEstimate(merged, k)
    val inter = size(filter(merged, h =>
      array_contains(skA, h) && array_contains(skB, h)))
    val j = inter.cast("double") / size(merged).cast("double")
    struct(unionEst.as("est_union"), j.as("est_jaccard"),
      (j * unionEst).as("est_intersection"))
  }

  /** Per-group distinct-cardinality report over a value column: one row
    * per group with the sketch size, the KMV estimate, and (for
    * demonstration/validation — drop it at scale) the exact distinct hash
    * count. Scale shape: the sketch aggregates with bounded partial state;
    * the exact count is the one shuffle-heavy column and exists so the
    * report itself exhibits the estimator's error. */
  def distinctReport(df: DataFrame, groupCols: Seq[String], valueCol: String,
                     k: Int): DataFrame = {
    val hashed = df.select(
      groupCols.map(col) :+ hash60(col(valueCol)).as("_h"): _*)
    hashed.groupBy(groupCols.map(col): _*)
      .agg(kmvSketch(col("_h"), k).as("_sk"),
        countDistinct(col("_h")).as("n_exact"))
      .select(groupCols.map(col) ++ Seq(
        size(col("_sk")).as("sketch_size"),
        kmvEstimate(col("_sk"), k).as("est_distinct"),
        col("n_exact")): _*)
  }
}
