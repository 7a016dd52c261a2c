package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampType}

/** Incremental streaming funnel — the live counterpart of
  * [[graft.operators.Funnels.funnelTimes]]: each micro-batch of events
  * folds into a standing per-user step-times table, so the funnel report
  * over 100 TB of history costs one batch-sized fold per wave instead of
  * a full-log recompute. The q195 gate pins the invariant: after draining
  * event-time-ordered waves, the standing state must hash-equal the batch
  * funnel over the full log.
  *
  * Fold algebra: chained-MIN step times are PREFIX-STABLE under
  * event-time-ordered arrival (the [[Scd2Stream]] ordering contract —
  * every event in wave N is at-or-after wave N-1's): a completed step's
  * MIN can never be lowered by later events, and a step completing later
  * only considers candidates after its (already-final) predecessor. So
  * the fold is: keep every completed step; for each incomplete step i,
  * in order, take the earliest qualifying batch event after the (possibly
  * just-updated) step i-1 time — within-batch chains complete in one
  * fold because the steps evaluate sequentially. Like the q195 gate's
  * batch twin, the fold has no conversion window.
  *
  * State layout under `statePath/delta/batch_id=N/`: ONLY the users the
  * batch touched, with their full (user, step_1_ts..step_k_ts) row — the
  * write is batch-user-sized, never state-sized. The current state is
  * resolved per user as the row from the LATEST batch that touched them
  * ([[StreamState.latest]]). Replay safety: a replayed batch reads state
  * EXCLUDING its own batch_id directory and overwrites it — exactly-once
  * from at-least-once, the [[StreamState]] discipline.
  */
object FunnelStream {

  /** Drain `sourcePath` with AvailableNow, folding each micro-batch into
    * the standing funnel state. Returns the number of micro-batches
    * ([[StreamState.drain]]). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, userCol: String, tsCol: String,
                      typeCol: String, steps: Seq[String],
                      statePath: String, checkpointPath: String): Long = {
    require(steps.nonEmpty, "funnel needs at least one step")
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        foldBatch(batch, batchId, userCol, tsCol, typeCol, steps, statePath)
    })
  }

  private def stepCols(steps: Seq[String]): Seq[String] =
    steps.indices.map(i => s"step_${i + 1}_ts")

  private def foldBatch(batch: DataFrame, batchId: Long, userCol: String,
                        tsCol: String, typeCol: String, steps: Seq[String],
                        statePath: String): Unit = {
    val session = batch.sparkSession
    val user = col(userCol)
    val cols = stepCols(steps)
    val stateSchema = StructType(
      batch.schema(userCol) +: cols.map(c => StructField(c, TimestampType)))
    val standing = StreamState.latest(StreamState.read(session,
      s"$statePath/delta", batchId, stateSchema), Seq(userCol))
    // ONE aggregation of the batch side: each user's events as a
    // ts-sorted array, so the chained-MIN fold runs as per-row column
    // expressions over (sorted events × standing step times) — a
    // micro-batch costs one exchange for the batch instead of one
    // join+aggregation round per funnel step (identical algebra: "the
    // earliest qualifying event after the just-updated previous step"
    // is the FIRST qualifying element of the ts-sorted array; ties in
    // ts carry the same ts value either way)
    // only events that can complete a step ride the array: `qualifies`
    // rejects a non-step type or a null ts anyway, and a hot user's
    // array is bounded by its funnel events, not all of its traffic
    val evs = batch
      .filter(col(typeCol).isin(steps: _*) && col(tsCol).isNotNull)
      .select(user, struct(col(tsCol).as("_ts"), col(typeCol).as("_tp"))
        .as("_e"))
      .groupBy(user).agg(array_sort(collect_list(col("_e"))).as("_evs"))
    val seeded = evs.join(standing, Seq(userCol), "left")
    val folded = steps.zipWithIndex.foldLeft(seeded) {
      case (acc, (step, i)) =>
        val cur = cols(i)
        def qualifies(e: org.apache.spark.sql.Column)
            : org.apache.spark.sql.Column = {
          val isStep = e.getField("_tp") === lit(step)
          // a null-ts event sorts FIRST in the array: it must not
          // qualify, or it would mask the user's valid step-1 events
          // a null prev (step i−1 incomplete) nulls the predicate —
          // filter() drops the element, so cur stays null
          if (i == 0) isStep && e.getField("_ts").isNotNull
          else isStep && e.getField("_ts") > col(cols(i - 1))
        }
        // get() is out-of-bounds-null (no ANSI throw on the empty array)
        val firstQualifying =
          get(filter(col("_evs"), qualifies _), lit(0)).getField("_ts")
        acc.withColumn(cur, coalesce(col(cur), firstQualifying))
    }
    // users whose events never opened the funnel carry no information
    StreamState.writeBatch(folded.filter(col(cols.head).isNotNull)
      .select(user +: cols.map(col): _*), s"$statePath/delta", batchId)
  }

  /** The standing per-user funnel times (all committed batches,
    * including a compacted base): each user's row from the latest batch
    * that touched them. */
  def currentTimes(spark: SparkSession, statePath: String, userCol: String,
                   steps: Seq[String],
                   userField: StructField): DataFrame =
    StreamState.latest(StreamState.read(spark, s"$statePath/delta",
      Long.MinValue, StructType(userField +:
        stepCols(steps).map(c => StructField(c, TimestampType)))),
      Seq(userCol))
}
