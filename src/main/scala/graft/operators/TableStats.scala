package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Sketches

/** ANALYZE-style column statistics in ONE scan: per column the row/null
  * counts, a KMV NDV estimate, and typed min/max bounds — the statistics a
  * cost-based optimizer (join ordering, broadcast decisions, filter
  * selectivity) and a data-quality gate both feed on.
  *
  * Scale shape: a single aggregation pass over the table computes EVERY
  * column's sketch and bounds together (partial state per partition: k
  * longs + min/max per column — bounded, map-side combined); the driver
  * receives ONE row which unpivots to the per-column report. No
  * per-column rescans, no driver data.
  *
  * Bounds are computed on the TYPED column (a lexicographic min over
  * string renderings would say "10" < "9") and rendered to string only
  * for the uniform report schema. NDV rides the portable md5 hash60 seam,
  * so the whole report restates in SQL (q120). Columns whose string
  * rendering differs across engines (double, timestamp) should be
  * projected to a stable form first.
  */
object TableStats {

  /** The stats pass (md5 NDV hash — restatable in SQL, the q120 seam). */
  def columnStats(df: DataFrame, cols: Seq[String], k: Int = 256)
      : DataFrame = {
    require(cols.nonEmpty, "columnStats: need at least one column")
    // pre-project every hash into the codegen'd SELECT so the sketch
    // agg's child is a plain field read rather than an md5 expression
    // re-evaluated inside the (object) aggregation operator
    val projected = df.select(
      cols.map(col) ++ cols.map(c =>
        Sketches.hash60(col(c).cast("string")).as(s"_graft_h_$c")): _*)
    val aggs =
      count(lit(1)).as("_graft_n") +:
        cols.flatMap { c =>
          Seq(
            count(col(c)).as(s"_graft_nn_$c"),
            Sketches.kmvSketch(col(s"_graft_h_$c"), k).as(s"_graft_sk_$c"),
            min(col(c)).as(s"_graft_min_$c"),
            max(col(c)).as(s"_graft_max_$c"))
        }
    val one = projected.agg(aggs.head, aggs.tail: _*)
    one.select(explode(array(cols.map { c =>
        struct(
          lit(c).as("column_name"),
          col("_graft_n").as("n_rows"),
          (col("_graft_n") - col(s"_graft_nn_$c")).as("n_nulls"),
          Sketches.kmvEstimate(col(s"_graft_sk_$c"), k).as("ndv_est"),
          col(s"_graft_min_$c").cast("string").as("min_val"),
          col(s"_graft_max_$c").cast("string").as("max_val"))
      }: _*)).as("_graft_s"))
      .select(col("_graft_s.*"))
  }

  /** Equi-width histogram of a numeric column — the selectivity feed a
    * cost-based optimizer adds on top of [[columnStats]]' bounds/NDV:
    * `(bucket, bucket_lo, bucket_hi, n_rows)` for all `nBuckets` buckets,
    * empty ones included. Bucket of a value is
    * `least(floor((v − lo) · n / (hi − lo)), n − 1)` (the max value lands
    * in the last bucket; a constant column collapses into bucket 0), with
    * every arithmetic step a left-to-right IEEE double chain so an
    * external engine restates the exact counts (q159). Nulls are excluded
    * from every bucket (their count is [[columnStats]]' business).
    *
    * Two scans by design — bounds, then counts — with the 1-row bounds
    * frame broadcast into the bucketing pass; the alternative single-pass
    * sketch (quantile summary) is [[graft.functions.Sketches]]' business.
    * All-null input yields the full bucket list with null bounds and zero
    * counts. */
  def histogram(df: DataFrame, colName: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"histogram: need >= 1 bucket, got $nBuckets")
    val v = col(colName).cast("double")
    val bounds = df.agg(min(v).as("_graft_lo"), max(v).as("_graft_hi"))
    val width = col("_graft_hi") - col("_graft_lo")
    val counts = df.select(v.as("_graft_v")).filter(col("_graft_v").isNotNull)
      .crossJoin(broadcast(bounds))
      .withColumn("bucket",
        when(width === 0.0, lit(0L))
          .otherwise(least(
            floor((col("_graft_v") - col("_graft_lo")) * nBuckets / width),
            lit((nBuckets - 1).toLong)).cast("long")))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_rows"))
    bounds
      .select(explode(sequence(lit(0L), lit((nBuckets - 1).toLong)))
        .as("bucket"), col("_graft_lo"), col("_graft_hi"))
      .withColumn("bucket_lo",
        col("_graft_lo") + col("bucket") * width / nBuckets)
      .withColumn("bucket_hi",
        col("_graft_lo") + (col("bucket") + 1) * width / nBuckets)
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), col("bucket_lo"), col("bucket_hi"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"))
  }
}
