package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Scalar (per-dimension min/max) int8 embedding quantization — the
  * memory-side scale lever for similarity search: a 64-dim float vector is
  * 256 bytes; quantized it is 64, so a 100 TB embedding store's ANN
  * working set drops 4× (and distance kernels get SIMD-friendly byte
  * arithmetic). This implements the calibration pass (global per-dimension
  * ranges), the quantizer, and the reconstruction-error audit a pipeline
  * runs before committing to the codebook.
  *
  * Numeric contract: every step is IEEE double arithmetic on deterministic
  * operands — `scale = (mx − mn) / levels`, `q = floor((x − mn)/scale +
  * 0.5)` clamped by construction to [0, levels], reconstruction `mn +
  * q·scale`. min/max/integer-sum aggregates are order-independent, so the
  * whole audit restates bit-for-bit in an external engine (no
  * float-accumulation-order hazards — the report deliberately carries
  * `sum_q` (exact integer) and `max_abs_err` (order-free max), never a
  * float mean).
  *
  * Scale shape: calibration is one posexplode + a dims-sized hash
  * aggregation (64 rows out); the audit joins those 64 rows back broadcast
  * — the embedding table itself never shuffles. Two scans of the source
  * (calibrate + audit): persist the input at the call site if it is not a
  * cheap columnar scan.
  */
object Quantize {

  /** Global per-dimension calibration: (dim, mn, mx) — dim 0-based. */
  def dimStats(df: DataFrame, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("dim", "_xf")))
      .groupBy(col("dim"))
      .agg(min(col("_xf").cast("double")).as("mn"),
        max(col("_xf").cast("double")).as("mx"))

  /** The quantization level of `x` in a [mn, mx] range split into
    * `levels` steps (0 when the range is degenerate). */
  def quantLevel(x: Column, mn: Column, mx: Column, levels: Int): Column =
    when(mx === mn, lit(0L))
      .otherwise(floor((x - mn) / ((mx - mn) / lit(levels.toDouble)) + lit(0.5))
        .cast("long"))

  /** Quantization levels: 8-bit codes 0..255. */
  private val Levels = 255

  /** Per-dimension quantization audit over the calibrated ranges:
    * (dim, mn, mx, sum_q, n_sat, max_abs_err) where `sum_q` is the exact
    * integer checksum of assigned levels, `n_sat` counts values pinned to
    * the top level, and `max_abs_err` is the worst reconstruction error
    * (bounded by scale/2 by construction). */
  def quantReport(df: DataFrame, vecCol: String): DataFrame = {
    val levels = Levels
    val stats = dimStats(df, vecCol)
    df.select(posexplode(col(vecCol)).as(Seq("dim", "_xf")))
      .withColumn("x", col("_xf").cast("double"))
      .join(broadcast(stats), "dim")
      .withColumn("scale", (col("mx") - col("mn")) / lit(levels.toDouble))
      .withColumn("q", quantLevel(col("x"), col("mn"), col("mx"), levels))
      .withColumn("err",
        abs(col("mn") + col("q").cast("double") * col("scale") - col("x")))
      .groupBy(col("dim"))
      .agg(min(col("mn")).as("mn"), max(col("mx")).as("mx"),
        sum(col("q")).as("sum_q"),
        count(when(col("q") === levels, 1)).as("n_sat"),
        max(col("err")).as("max_abs_err"))
  }

  /** Quantize every vector against driver-collected calibration ranges
    * (dims-sized collect — bounded by the embedding width): adds
    * `qCol` = array<int> of levels. The production representation for a
    * quantized ANN index. */
  def quantizeVectors(df: DataFrame, vecCol: String,
                      qCol: String): DataFrame = {
    val levels = Levels
    val stats = dimStats(df, vecCol).orderBy(col("dim"))
      .collect().map(r => (r.getDouble(1), r.getDouble(2)))
    val mns = array(stats.map(s => lit(s._1)).toIndexedSeq: _*)
    val scales = array(stats.map { case (mn, mx) =>
      lit((mx - mn) / levels.toDouble) }.toIndexedSeq: _*)
    df.withColumn(qCol,
      zip_with(col(vecCol),
        zip_with(mns, scales, (m, sc) => struct(m.as("mn"), sc.as("sc"))),
        (x, ms) => when(ms.getField("sc") === 0.0, lit(0))
          .otherwise(floor((x.cast("double") - ms.getField("mn")) /
            ms.getField("sc") + lit(0.5)).cast("int"))))
  }
}
