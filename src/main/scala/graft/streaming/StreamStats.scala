package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType

import graft.expressions.QuantileSketchAgg

/** Streaming quantile monitor: per-group quantile sketches maintained as
  * STREAMING STATE (`flatMapGroupsWithState`), so a continuously-ingesting
  * pipeline can watch per-source length/score distributions without ever
  * recomputing over the accumulated corpus — each micro-batch folds its
  * rows into the bounded bottom-K-by-hash histogram
  * ([[graft.expressions.QuantileSketchAgg]]'s kernel and invariant:
  * order-insensitive, exact counts for retained values, ≤ capacity
  * entries of state per group).
  *
  * Because the sketch is a pure set function of everything ingested, the
  * monitor's final per-group quantiles are IDENTICAL to running the batch
  * aggregate over the whole corpus at once — which is exactly how q119's
  * oracle states it. Emission is one row per updated group per batch,
  * written batch_id-keyed with the [[StreamState]] overwrite
  * discipline (replay recomputes the identical rows); the latest batch's
  * row per group is the current state of the world.
  */
object StreamStats {

  /** Quantiles from sorted (value, count) entries: smallest value whose
    * running count reaches ceil(q·mass), floored at rank 1 — the same
    * arithmetic [[graft.functions.Sketches.sketchQuantile]] and the SQL
    * restatement use (double multiply, ceil, integer compare). */
  private[streaming] def quantileOf(entries: Seq[(Long, Long)], mass: Long,
                                    q: Double): Long = {
    val target = math.max(1L, math.ceil(q * mass.toDouble).toLong)
    var cum = 0L
    var ans = entries.last._1
    var found = false
    val it = entries.iterator
    while (!found && it.hasNext) {
      val (v, c) = it.next()
      cum += c
      if (cum >= target) { ans = v; found = true }
    }
    ans
  }

  /** Sketch capacity: the distinct values each group's sketch keeps. */
  private val Capacity = 256

  /** The quantiles each report row carries. */
  private val Quantiles: Seq[Double] = Seq(0.5, 0.9, 0.99)

  /** Run the monitor over `sourcePath` with AvailableNow semantics. Each
    * batch updates per-group sketch state and appends one report row per
    * UPDATED group to `sinkPath/batch_id=N` (overwrite — replay-safe);
    * read the max-batch_id row per group for the current distribution. */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, groupCol: String, valueCol: String,
                      sinkPath: String, checkpointPath: String): Long = {
    import spark.implicits._
    val stream = StreamWaves.reader(spark, schema, sourcePath)
      // null values are SKIPPED, matching the batch aggregate's
      // semantics (QuantileSketchAgg.update) — without the filter the
      // non-nullable encoder would kill the whole monitor on one null
      .filter(col(valueCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .as[(String, Long)]
    val updates = stream.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Long, Long)], (String, Long, Long, Seq[Long])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, rows: Iterator[(String, Long)],
         state: GroupState[Seq[(Long, Long, Long)]]) =>
          val buf = new java.util.TreeMap[java.lang.Long, Array[Long]]()
          state.getOption.getOrElse(Seq.empty).foreach { case (h, v, c) =>
            buf.put(h, Array(v, c))
          }
          rows.foreach { case (_, v) =>
            QuantileSketchAgg.add(buf, QuantileSketchAgg.hash60OfLong(v),
              v, 1L, Capacity)
          }
          val persisted = {
            val b = Seq.newBuilder[(Long, Long, Long)]
            val it = buf.entrySet().iterator()
            while (it.hasNext) {
              val e = it.next()
              b += ((e.getKey.longValue(), e.getValue()(0), e.getValue()(1)))
            }
            b.result()
          }
          state.update(persisted)
          val byValue = persisted.map(e => (e._2, e._3)).sortBy(_._1)
          val mass = byValue.map(_._2).sum
          Iterator.single((g, byValue.size.toLong, mass,
            Quantiles.map(q => quantileOf(byValue, mass, q))))
      }
      .toDF("g", "sketch_size", "sketch_mass", "quantiles")
    StreamState.drain(updates, checkpointPath)(_.outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        StreamState.writeBatch(batch, sinkPath, batchId) })
  }
}
