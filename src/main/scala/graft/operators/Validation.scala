package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Runtime correctness invariants the reference uses instead of tests
  * (SURVEY.md §5): record-count reconciliation between what a source
  * declared and what was extracted (`utilities/utilities.py:69-82`,
  * surfaced by `datalakewrapper.py:197-210`), and column-drift detection
  * between data and metadata (`lambda_function.py:140-158`).
  */
object Validation {

  final case class CountCheck(expected: Long, actual: Long) {
    def matches: Boolean = expected == actual
  }

  /** Scalar reconciliation: declared instance-count sum vs actual rows. */
  def reconcile(actualRows: Long, declared: Long): CountCheck =
    CountCheck(declared, actualRows)

  /** Vectorized per-key reconciliation: join declared counts with actual
    * counts and flag mismatches. Both sides aggregate before the join, so
    * the join input is one row per key. */
  def reconcileCounts(actual: DataFrame, declared: DataFrame,
                      keyCol: String): DataFrame =
    declared.join(actual, Seq(keyCol), "full_outer")
      .withColumn("actual_count", coalesce(col("actual_count"), lit(0L)))
      .withColumn("declared_count", coalesce(col("declared_count"), lit(0L)))
      .withColumn("count_match", col("actual_count") === col("declared_count"))
}
