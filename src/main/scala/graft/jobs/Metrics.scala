package graft.jobs

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Zero-pass job metrics via `Dataset.observe` (A8 at scale): metric
  * aggregates ride the SAME job that materializes the frame — the executors
  * fold them per task and the driver listener collects them at job end, so
  * a row count (or null-rate, min/max freshness, anything expressible as an
  * aggregate) costs NO second scan. The alternative — `df.count()` before a
  * write — reads the entire input twice per pipeline run.
  *
  * Usage shape (what PipelineRunner does per table):
  * {{{
  *   val (observed, obs) = Metrics.observed(data, "bc_orders")
  *   Sinks.writeVersioned(observed, path)   // the one action
  *   val rows = Metrics.rows(obs)           // no extra job
  * }}}
  *
  * `Observation.get` blocks until the FIRST action on the observed frame
  * completes and returns that job's metrics; observe a fresh frame per
  * action. */
object Metrics {

  /** Attach a row-count observation (plus any extra aggregate columns —
    * null counts, value ranges) to `df`. */
  def observed(df: DataFrame, name: String,
               extra: Column*): (DataFrame, Observation) = {
    val obs = Observation(s"graft_$name")
    (df.observe(obs, count(lit(1)).as("rows"), extra: _*), obs)
  }

  /** The observed row count (call AFTER the action has run). */
  def rows(obs: Observation): Long =
    obs.get("rows") match {
      case l: java.lang.Long => l.longValue()
      case other => other.toString.toLong
    }
}
