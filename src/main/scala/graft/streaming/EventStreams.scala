package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Event-time windowed aggregation shapes for the events stream. The same
  * expressions run in batch (for the oracle-checked queries) and under
  * `readStream` + `withWatermark` (for live ingest) — Structured Streaming's
  * incrementalization is free because the plan is declarative.
  */
object EventStreams {

  /** Tumbling-window counts/sums per event type. In streaming mode attach
    * `withWatermark(tsCol, lateness)` upstream; in batch mode this is an
    * ordinary two-key aggregation. */
  def tumblingAgg(events: DataFrame, tsCol: String, windowDur: String): DataFrame =
    events.groupBy(window(col(tsCol), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
}
