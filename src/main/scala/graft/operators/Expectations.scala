package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Declarative data-quality expectations — the assertion layer over the
  * one-pass statistics [[TableStats]] computes. The reference validates
  * extracts with ad-hoc count reconciliation (A3, reference
  * `validation.py` pattern); production pipelines state expectations up
  * front (deequ/Great-Expectations style) and gate loads on them. Each
  * check yields one report row: (check, metric, threshold, pass).
  *
  * Scale shape: every row-predicate check (not-null rate, accepted-value
  * rate, bounds rate, row count) folds into ONE aggregation pass over the
  * table — conditional sums, partial-aggregated map-side, no shuffle of
  * data rows. A [[Expectations.Unique]] check adds one partial-aggregating
  * `groupBy(keys)` shuffle (the LineDedup shape: the hottest key crosses
  * the wire once per input partition) — distinct counting cannot ride the
  * single pass exactly, and approximating uniqueness would make the gate
  * lie. The report is a handful of rows; nothing collects data to the
  * driver.
  */
object Expectations {

  sealed trait Check { def name: String; def threshold: Double }

  /** Fraction of non-null values in `column` must be >= `minRate`. */
  final case class NotNull(column: String, minRate: Double = 1.0)
      extends Check {
    val name = s"not_null($column)"; val threshold = minRate
  }

  /** Fraction of rows whose `column` is in `values` (nulls fail). */
  final case class AcceptedValues(column: String, values: Seq[String],
                                  minRate: Double = 1.0) extends Check {
    val name = s"accepted_values($column)"; val threshold = minRate
  }

  /** Fraction of rows with `lo <= column <= hi` (nulls fail). */
  final case class Bounds(column: String, lo: Double, hi: Double,
                          minRate: Double = 1.0) extends Check {
    val name = s"bounds($column,$lo,$hi)"; val threshold = minRate
  }

  /** Distinct (keys) count over row count must be 1: the key is
    * unique. Rows with any null key column count as rows but their
    * keysets still group (null-safe grouping). */
  final case class Unique(columns: Seq[String]) extends Check {
    val name = s"unique(${columns.mkString(",")})"; val threshold = 1.0
  }

  /** Total row count must lie in [lo, hi]; metric is the count itself. */
  final case class RowCount(lo: Long, hi: Long = Long.MaxValue)
      extends Check {
    val name = s"row_count($lo,$hi)"
    val threshold = lo.toDouble // reported; pass checks both ends
  }

  private def rate(pred: Column): Column =
    sum(when(pred, lit(1L)).otherwise(lit(0L))).cast("double") /
      count(lit(1)).cast("double")

  /** Run every check; one report row each, ordered by check name. */
  def run(df: DataFrame, checks: Seq[Check]): DataFrame = {
    require(checks.nonEmpty, "Expectations.run: no checks given")
    val spark = df.sparkSession
    import spark.implicits._

    val rowChecks = checks.filter(!_.isInstanceOf[Unique])
    val aggs: Seq[Column] = rowChecks.zipWithIndex.map {
      case (NotNull(c, _), i) => rate(col(c).isNotNull).as(s"_m$i")
      case (AcceptedValues(c, vs, _), i) => rate(col(c).isin(vs: _*)).as(s"_m$i")
      case (Bounds(c, lo, hi, _), i) =>
        rate(col(c).cast("double").between(lo, hi)).as(s"_m$i")
      case (RowCount(_, _), i) => count(lit(1)).cast("double").as(s"_m$i")
      case (u: Unique, _) => throw new IllegalStateException(u.name)
    }
    val rowReport: DataFrame =
      if (rowChecks.isEmpty) spark.emptyDataFrame
      else {
        val row = df.agg(aggs.head, aggs.tail: _*)
        val branches = rowChecks.zipWithIndex.map { case (chk, i) =>
          val pass = chk match {
            case RowCount(lo, hi) =>
              col(s"_m$i") >= lit(lo.toDouble) && col(s"_m$i") <= lit(hi.toDouble)
            case _ => col(s"_m$i") >= lit(chk.threshold)
          }
          struct(lit(chk.name).as("check"), col(s"_m$i").as("metric"),
            lit(chk.threshold).as("threshold"), pass.as("pass"))
        }
        // one aggregate row fans out to |checks| report rows driver-free
        row.select(explode(array(branches: _*)).as("r")).select($"r.*")
      }

    val uniqueReports = checks.collect { case u @ Unique(cols0) =>
      val keyed = df.groupBy(cols0.map(col): _*).agg(count(lit(1)).as("_n"))
        .agg(count(lit(1)).as("_distinct"), sum(col("_n")).as("_rows"))
      keyed.select(
        lit(u.name).as("check"),
        (col("_distinct").cast("double") / col("_rows").cast("double"))
          .as("metric"),
        lit(u.threshold).as("threshold"),
        (col("_distinct").cast("double") / col("_rows").cast("double") >=
          lit(u.threshold)).as("pass"))
    }

    (rowReport +: uniqueReports)
      .filter(_.columns.nonEmpty)
      .reduce(_.unionByName(_))
      .orderBy(col("check"))
  }
}
