package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact distinct counting via bitmap buckets — the EXACT counterpart
  * to the HLL registers for BOUNDED dense integer domains (user ids,
  * dimension keys): value v sets bit `v mod 63` of bucket `v div 63`,
  * `bit_or` folds per (group, bucket), and popcounts sum to the exact
  * distinct count. The bitmap is a commutative-idempotent monoid like
  * the HLL register file (OR-merge; re-delivery harmless), so it
  * MAINTAINS incrementally — the exactness [[graft.operators
  * .AggMaintain]]'s value-set argument says a scalar state can't have,
  * bought by state linear in the DOMAIN (domain/63 longs per group)
  * instead of constant. Use it when the key space is machine-bounded
  * (the warehouse's surrogate keys); use HLL when it isn't.
  *
  * 63 bits per bucket, not 64: both Spark's `shiftleft` and DuckDB's
  * `<<` run on SIGNED longs, and `1 << 63` overflows (DuckDB errors,
  * Spark wraps) — 63 keeps every shift in range in both engines with
  * identical results. Negative values fail LOUDLY in the row path
  * (they have no bit). One map-side-combinable aggregation. */
object Bitmap {

  /** `(groupCol, bucket, bits)` — the exact bitmap rows. */
  def bitmaps(df: DataFrame, groupCol: String, valueCol: String): DataFrame =
    df.select(col(groupCol).as("g"),
        when(col(valueCol).cast("long") >= 0, col(valueCol).cast("long"))
          .otherwise(raise_error(lit(
            s"bitmaps: negative $valueCol has no bit — offset the " +
              "domain first"))).as("v"))
      .select(col("g"), expr("v div 63").as("bucket"),
        expr("shiftleft(cast(1 as bigint), cast(v % 63 as int))").as("b"))
      .groupBy(col("g"), col("bucket"))
      .agg(bit_or(col("b")).as("bits"))
      .select(col("g").as(groupCol), col("bucket"), col("bits"))

  /** Exact distinct counts off a bitmap frame: `(groupCol,
    * n_distinct)`. */
  def distinctCounts(bm: DataFrame, groupCol: String): DataFrame =
    bm.groupBy(col(groupCol))
      .agg(sum(bit_count(col("bits")).cast("long")).as("n_distinct"))

  /** EXACT set overlap between two bitmap frames sharing group keys —
    * the retention question ("how many of day d's users came back on
    * day d+1") answered by one AND of the standing words instead of a
    * row-scale distinct-intersection join: per group, `n_a`, `n_b`,
    * `n_common` (popcount of the AND-merged words) and the Jaccard in
    * ppm (`common·10⁶ div (n_a + n_b − common)`, exact truncating
    * division; 0 when both sides are empty). Groups present on either
    * side report (full outer on the word grid); a group×bucket word
    * missing on one side intersects as zero. Word-grid-sized join,
    * never user-row-sized. */
  def jaccardReport(a: DataFrame, b: DataFrame,
                    groupCol: String): DataFrame = {
    val aw = a.select(col(groupCol).as("_g"), col("bucket").as("_k"),
      col("bits").as("_wa"))
    val bw = b.select(col(groupCol).as("_g"), col("bucket").as("_k"),
      col("bits").as("_wb"))
    aw.join(bw, Seq("_g", "_k"), "full_outer")
      .groupBy(col("_g"))
      .agg(
        sum(bit_count(coalesce(col("_wa"), lit(0L))).cast("long"))
          .as("n_a"),
        sum(bit_count(coalesce(col("_wb"), lit(0L))).cast("long"))
          .as("n_b"),
        sum(bit_count(coalesce(col("_wa"), lit(0L))
          .bitwiseAND(coalesce(col("_wb"), lit(0L)))).cast("long"))
          .as("n_common"))
      .select(col("_g").as(groupCol), col("n_a"), col("n_b"),
        col("n_common"),
        when(col("n_a") + col("n_b") - col("n_common") === 0, lit(0L))
          .otherwise(expr(
            "n_common * 1000000 div (n_a + n_b - n_common)"))
          .as("jaccard_ppm"))
  }
}
