package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distribution-drift audits between two corpus snapshots — the monitoring
  * gate a 100 TB ingest runs before a new crawl wave is allowed into the
  * training mix: has the language / source / event-type distribution moved
  * beyond tolerance since the reference snapshot? Complements
  * [[Privacy.tClosenessAudit]] (which bounds a GROUP against its own
  * release) by bounding a NEW snapshot against a reference one.
  *
  * The statistic is the per-category contribution to Pearson's chi-squared
  * homogeneity test on the 2×K contingency table (reference row, current
  * row). For category i with reference count r_i, current count c_i and
  * totals R = Σr, C = Σc, the two cells' (O−E)²/E terms collapse
  * algebraically to ONE exact rational per category:
  *
  *   contrib_i = (r_i·C − c_i·R)² / (R·C·(r_i + c_i))
  *
  * (derivation: with N = R+C and n_i = r_i+c_i, the expected cells are
  * R·n_i/N and C·n_i/N, and r_i·N − R·n_i = r_i·C − c_i·R = −(c_i·N − C·n_i),
  * so the two terms share the numerator d² and sum to N·d²/(N·R·C·n_i)).
  * The denominator is positive for every category PRESENT in either
  * snapshot — no smoothing, no division-by-zero edge: a brand-new or
  * vanished category simply contributes d²/(R·C·n_i) with the missing
  * side at 0, which is exactly the evidence mass the test assigns it.
  *
  * Everything is EXACT integer arithmetic in DECIMAL(38,0) (counts are
  * longs; d² reaches ~(R·C)² ≈ 10²⁷ at the billion-row scale — past BIGINT,
  * comfortably inside 38 digits), and the verdict is the cross-
  * multiplication `contrib > tNum/tDen ⇔ chi_num·tDen > tNum·chi_den`, so
  * the audit hash-compares across engines — a floating-point chi-squared
  * cannot.
  *
  * Scale shape: one map-side-combinable `groupBy(cat).count` per snapshot
  * (category-cardinality results), a null-safe full-outer join of the two
  * count frames, and the totals broadcast as 1-row aggregates — no window
  * ever touches the raw rows, and the output is category-sized.
  */
object Drift {

  /** Per-category drift audit: (category, ref_n, cur_n, chi_num, chi_den,
    * drifted) with `drifted ⇔ chi_num/chi_den > tNum/tDen`. A null
    * category is a category like any other (null-safe join; it reports as
    * a null-valued row). */
  def chiSquaredAudit(ref: DataFrame, cur: DataFrame, catCol: String,
                      tNum: Long, tDen: Long): DataFrame =
    chiSquaredAuditFromCounts(categoryCounts(ref, catCol, "ref_n"),
      categoryCounts(cur, catCol, "cur_n"), tNum, tDen)

  /** `(category, <as>)`: the rows per value of `catCol`, a null category
    * counting as one. The one count both audit sides use; run on a
    * stream through `StreamState.maintain`, it is the streaming
    * monitor's standing state. */
  def categoryCounts(df: DataFrame, catCol: String, as: String): DataFrame =
    df.groupBy(col(catCol).as("category")).agg(count(lit(1)).as(as))

  /** The audit from PRE-AGGREGATED count frames — `(category, ref_n)` /
    * `(category, cur_n)`, each a [[categoryCounts]] — the seam the
    * streaming monitor serves its standing counts through;
    * [[chiSquaredAudit]] is this on two fresh counts. */
  def chiSquaredAuditFromCounts(refCounts: DataFrame, curCounts: DataFrame,
                                tNum: Long, tDen: Long): DataFrame = {
    require(tNum >= 0 && tDen > 0, s"threshold $tNum/$tDen must be >= 0")
    val joined = refCounts.as("r")
      .join(curCounts.as("c"), col("r.category") <=> col("c.category"),
        "full_outer")
      .select(
        coalesce(col("r.category"), col("c.category")).as("category"),
        coalesce(col("ref_n"), lit(0L)).as("ref_n"),
        coalesce(col("cur_n"), lit(0L)).as("cur_n"))
    // snapshot totals: a 1-row aggregate broadcast onto the category frame
    val totals = joined.agg(sum(col("ref_n")).as("_R"),
      sum(col("cur_n")).as("_C"))
    val dec = "decimal(38,0)"
    val d = col("ref_n").cast(dec) * col("_C") -
      col("cur_n").cast(dec) * col("_R")
    joined.crossJoin(broadcast(totals))
      .withColumn("chi_num", (d * d).cast(dec))
      .withColumn("chi_den",
        (col("_R").cast(dec) * col("_C") *
          (col("ref_n") + col("cur_n"))).cast(dec))
      .withColumn("drifted",
        col("chi_num") * lit(tDen) > col("chi_den") * lit(tNum))
      .select(col("category"), col("ref_n"), col("cur_n"),
        col("chi_num"), col("chi_den"), col("drifted"))
  }
  /** Per-group TOTAL VARIATION DISTANCE drift — the exact-rational
    * sibling of [[chiSquaredAudit]]: TVD(P, Q) = ½·Σ|p_i − q_i| is the
    * largest probability mass any event class can disagree by, the
    * drift number with a direct operational reading ("6% of traffic
    * changed class"). With integer counts it is the exact rational
    * `Σ|c_a·N_b − c_b·N_a| / (2·N_a·N_b)`, and the verdict
    * `tvd >= tNum/tDen` cross-multiplies in DECIMAL(38,0) — no
    * division, no logs (χ²'s advantage is tail sensitivity; TVD's is
    * exactness and interpretability — run both). Output: one row per
    * (group, bucket) with both counts, the bucket's |cross| term, and
    * the group verdict riding every row; buckets absent on one side
    * count as zero. `contrib`/`tvd_num` are BIGINT gate outputs
    * (nulls past ±9.2e18 — the decimal verdict stays exact).
    *
    * Scale shape: two map-side-combinable counts, a bucket-grid full
    * outer join, one group-cardinality total broadcast back. */
  def tvdDrift(a: DataFrame, b: DataFrame, groupCol: String,
               bucketCol: String, tNum: Long, tDen: Long): DataFrame =
    tvdDriftFromCounts(tvdCounts(a, groupCol, bucketCol),
      tvdCounts(b, groupCol, bucketCol), groupCol, bucketCol, tNum, tDen)

  /** `(_g, _b, c)`: the rows per (group, bucket) — the count both
    * [[tvdDrift]] sides use. Counts are additive, so the streaming
    * monitor sums per-batch [[tvdCounts]] into the same frame. */
  def tvdCounts(df: DataFrame, groupCol: String,
                bucketCol: String): DataFrame =
    df.groupBy(col(groupCol).as("_g"), col(bucketCol).as("_b"))
      .agg(count(lit(1)).as("c"))

  /** [[tvdDrift]] off pre-aggregated [[tvdCounts]] frames — the entry
    * the streaming monitor serves from (its standing state IS the
    * current-side counts). */
  def tvdDriftFromCounts(aCounts: DataFrame, bCounts: DataFrame,
                         groupCol: String, bucketCol: String,
                         tNum: Long, tDen: Long): DataFrame = {
    require(tDen > 0 && tNum >= 0,
      s"tvdDrift: need tNum >= 0, tDen > 0, got $tNum/$tDen")
    val dec = "decimal(38,0)"
    val j = aCounts.select(col("_g"), col("_b"), col("c").as("_ca"))
      .join(bCounts.select(col("_g"), col("_b"), col("c").as("_cb")),
        Seq("_g", "_b"), "full_outer")
      .select(col("_g"), col("_b"),
        coalesce(col("_ca"), lit(0L)).as("c_a"),
        coalesce(col("_cb"), lit(0L)).as("c_b"))
    val tot = j.groupBy(col("_g").as("_tg"))
      .agg(sum(col("c_a")).as("_na"), sum(col("c_b")).as("_nb"))
    val d = j.join(tot, col("_g") === col("_tg"))
      .withColumn("_contrib",
        abs(col("c_a").cast(dec) * col("_nb") -
          col("c_b").cast(dec) * col("_na")))
    val perGroup = d.groupBy(col("_g").as("_sg"))
      .agg(sum(col("_contrib")).as("_num"), max(col("_na")).as("_sna"),
        max(col("_nb")).as("_snb"))
      .withColumn("_drifted",
        col("_num") * lit(tDen) >=
          col("_sna").cast(dec) * col("_snb") * lit(2L) * lit(tNum))
    d.join(perGroup, col("_g") === col("_sg"))
      .select(col("_g").as(groupCol), col("_b").as(bucketCol),
        col("c_a"), col("c_b"),
        col("_contrib").cast("long").as("contrib"),
        col("_num").cast("long").as("tvd_num"),
        col("_drifted").as("drifted"))
  }
}
