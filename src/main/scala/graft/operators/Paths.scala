package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Clickstream path analytics — the two event-sequence summaries every
  * product/ops pipeline derives once sessions exist: the first-order
  * Markov transition matrix (where does traffic go NEXT from each state)
  * and the top session paths (which whole journeys dominate). Both stay
  * exact-count integer frames, so they gate against an external engine.
  *
  * Scale shape: transitions ride [[SortedFold.lagged]] — the O(1)-state
  * secondary-sort scan, not a buffering `lag` window — into one
  * map-side-combinable (from, to) count whose result is
  * state-cardinality². Paths aggregate per (key, session): the
  * `collect_list` there is bounded by SESSION length (the gap closes
  * runaway sessions), never by a key's total history — the only
  * collect_list discipline that survives a bot user at 100 TB — and the
  * path frame then reduces to path-cardinality counts.
  */
object Paths {

  /** First-order transition counts `(from_type, to_type, n)` over each
    * key's event-ordered stream; each key's first event counts from
    * `^start` (the Markov chain's entry state). A NULL event type is
    * a state like any other (it lags through a sentinel internally, so
    * first-in-key and null-valued-previous stay distinct — a
    * null-from-lag coalesce would silently fold null states into the
    * entry state). */
  def transitionCounts(df: DataFrame, keyCol: String,
                       orderCols: Seq[String], typeCol: String): DataFrame = {
    val sentinel = "\u0000null"
    val tagged = df.withColumn("_tt",
      coalesce(col(typeCol).cast("string"), lit(sentinel)))
    SortedFold.lagged(tagged, keyCol, orderCols, "_tt", as = "_prev")
      .groupBy(
        when(col("_prev").isNull, lit("^start"))
          .when(col("_prev") === sentinel, lit(null).cast("string"))
          .otherwise(col("_prev")).as("from_type"),
        col(typeCol).cast("string").as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** One row per (key, session): the session's ordered event-type path
    * as a `>`-joined string, with its length. Ties in `tsCol` order
    * deterministically on `idCol` (the [[SortedFold.sessionize]]
    * contract). */
  def sessionPaths(df: DataFrame, keyCol: String, tsCol: String,
                   idCol: String, typeCol: String, gapSec: Long): DataFrame =
    SortedFold.sessionize(df, keyCol, tsCol, idCol, gapSec)
      .groupBy(col(keyCol), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        concat_ws(">",
          transform(
            sort_array(collect_list(
              struct(col(tsCol), col(idCol), col(typeCol).as("_t")))),
            s => s.getField("_t"))).as("path"))

  /** The `k` most frequent session paths, ties broken on the path
    * string: `(path, n_sessions)`. */
  def topPaths(df: DataFrame, keyCol: String, tsCol: String,
               idCol: String, typeCol: String, gapSec: Long,
               k: Int): DataFrame =
    sessionPaths(df, keyCol, tsCol, idCol, typeCol, gapSec)
      .groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(k)
}
