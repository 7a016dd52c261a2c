package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming churn monitor — [[graft.operators.SnapshotDiff.columnChurn]]
  * maintained WHILE the new snapshot lands, so a bad load aborts
  * mid-ingest (changed% exploding on the `text` column two waves into
  * a ten-wave publish) instead of after the full scan-and-compare.
  *
  * Shape: each micro-batch classifies its rows against the STATIC old
  * snapshot's fingerprints (a stream-static join — the old side never
  * re-scans per row, only per batch) and appends one increment row per
  * metric, batch_id-keyed with the [[StreamState]] overwrite
  * discipline. Snapshot semantics make every id arrive ONCE, so the
  * increments are disjoint and the standing report is a pure SUM over
  * batches — no keyed state at all, the cheapest possible monitor
  * (metric-cardinality rows per batch). `removed` is not knowable
  * until the stream is declared complete — ids the waves never
  * mentioned — so the read side derives it from the old-side row
  * count: `removed = n_old − changed − unchanged`.
  */
object StreamChurn {

  /** Old-side per-column fingerprints, computed ONCE before the drain
    * (`(idCol, _fp_<col>… )`) — the static join frame. */
  def oldFingerprints(oldDf: DataFrame, idCol: String,
                      compareCols: Seq[String]): DataFrame =
    oldDf.select(col(idCol) +:
      compareCols.map(c => md5(col(c).cast("string")).as(s"_fp_$c")): _*)

  /** Drain `sourcePath` with AvailableNow semantics; each batch joins
    * the static `oldFps` frame and appends its metric increments to
    * `sinkPath/batch_id=N` (overwrite — replay-safe). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, oldFps: DataFrame, idCol: String,
                      compareCols: Seq[String], sinkPath: String,
                      checkpointPath: String): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val fresh = batch.select(col(idCol).as("_id") +:
          compareCols.map(c => md5(col(c).cast("string")).as(s"_nfp_$c")): _*)
        val j = fresh.join(
          oldFps.select(col(idCol).as("_oid") +: lit(true).as("_op") +:
            compareCols.map(c => col(s"_fp_$c")): _*),
          col("_id") <=> col("_oid"), "left")
        val both = col("_op").isNotNull
        val colChanged = compareCols.map(c =>
          both && !(col(s"_fp_$c") <=> col(s"_nfp_$c")))
        val anyChanged = colChanged.reduce(_ || _)
        def cnt(c: org.apache.spark.sql.Column) =
          sum(when(c, 1L).otherwise(0L))
        val agg = j.agg(cnt(col("_op").isNull).as("added"),
          Seq(cnt(anyChanged).as("changed"),
            cnt(both && !anyChanged).as("unchanged")) ++
            compareCols.zip(colChanged).map { case (c, ch) =>
              cnt(ch).as(s"changed:$c")
            }: _*)
        val metrics = agg.columns
        StreamState.writeBatch(agg.select(explode(array(metrics.map(m =>
            struct(lit(m).as("metric"), col(s"`$m`").as("n")))
            .toIndexedSeq: _*)).as("kv"))
          .select(col("kv.metric"), col("kv.n")), sinkPath, batchId)
    })

  /** The standing report: increments summed across batches, plus the
    * derived `removed` row (`nOld` is the old snapshot's row count —
    * the monitor cannot see ids the stream never mentioned). Matches
    * [[graft.operators.SnapshotDiff.columnChurn]] row for row once the
    * new snapshot has fully landed. */
  def currentChurn(spark: SparkSession, sinkPath: String,
                   nOld: Long): DataFrame = {
    val sums = spark.read.parquet(sinkPath)
      .groupBy(col("metric")).agg(sum(col("n")).as("n"))
    val matched = sums
      .filter(col("metric") === "changed" || col("metric") === "unchanged")
      .agg(coalesce(sum(col("n")), lit(0L)).as("_m"))
    sums.unionByName(matched.select(lit("removed").as("metric"),
      (lit(nOld) - col("_m")).as("n")))
  }
}
