package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order (Morton) clustering for multi-column data skipping.
  *
  * Sorting a table by one column makes per-file min/max ranges tight on that
  * column and useless on every other; interleaving the bits of several
  * columns' rank spaces gives a single sort key whose locality is shared
  * across ALL of them — after a z-ordered write, a filter on ANY of the
  * z-columns prunes most files from their footer ranges. This is the same
  * layout trick Delta/Iceberg expose as `OPTIMIZE ZORDER BY`; here it is a
  * plain column expression + range repartition, so it composes with any sink
  * that records per-file ranges (the lakesim write path does, and parquet
  * row-group stats give it to every reader for free).
  *
  * The z-value is built from bounded non-negative integer coordinates
  * (caller maps raw values into `0 until 2^bits` — ranks, bucketed
  * timestamps, dictionary codes). Bit interleave uses only integer
  * shifts/masks (codegen'd, whole-stage), and is restatable in any engine
  * with bit ops — the q61 oracle recomputes it in SQL.
  *
  * At 100 TB: `cluster` range-repartitions by the z-value — a skew-safe
  * total ordering (range boundaries from a sample), so writers emit
  * similar-sized files each covering a compact z-cube of the key space.
  */
object ZOrder {

  /** Interleaved z-value of coordinate columns (column i owns every
    * len(cols)-th bit starting at bit i). Coordinates must lie in
    * [0, 2^bits); values are masked to `bits` bits defensively. */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty, "zValue needs at least one column")
    require(bits * cols.size <= 62, s"z-value would exceed a long: $bits bits × ${cols.size} columns")
    val n = cols.size
    val terms = for {
      (c, j) <- cols.zipWithIndex
      i <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long").bitwiseAND(lit((1L << bits) - 1)), i)
        .bitwiseAND(lit(1L)),
      i * n + j)
    terms.reduce(_ bitwiseOR _)
  }

  /** [[zValue]] of two columns as ANSI SQL, for oracles: masked inputs,
    * one `((x >> i) & 1) * 2^p` term per bit, summed — `+` of disjoint
    * powers of two equals the engine's OR-fold. */
  def interleave2Sql(a: String, b: String, bits: Int): String = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val mask = (1L << bits) - 1
    val terms = (0 until bits).flatMap { i =>
      Seq(s"((($a & $mask) >> $i) & 1) * ${1L << (2 * i)}",
        s"((($b & $mask) >> $i) & 1) * ${1L << (2 * i + 1)}")
    }
    terms.mkString("(", " + ", ")")
  }

  /** Cluster `df` for writing: range-repartition + local sort by the
    * z-value of the given coordinate columns. `numFiles` controls output
    * granularity (files ≈ partitions under a per-partition writer). */
  def cluster(df: DataFrame, coords: Seq[Column], numFiles: Int,
              bits: Int = 16): DataFrame = {
    val z = zValue(coords, bits)
    df.repartitionByRange(numFiles, z).sortWithinPartitions(z)
  }
}
