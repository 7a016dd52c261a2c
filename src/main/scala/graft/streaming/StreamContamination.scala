package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.functions.Contamination

/** Streaming benchmark-contamination gate — the admission control a
  * crawl pipeline runs BEFORE a document ever reaches the training
  * corpus (the [[StreamMediaDedup]] shape on text shingles): each
  * micro-batch of documents probes the STANDING benchmark shingle set
  * ([[Contamination.benchShingleSet]], persisted once under
  * `statePath/bench_shingles` — eval suites are small, so the probe is
  * a broadcast membership join; the corpus side never shuffles for
  * it). Documents sharing any of their distinct word-8-gram shingles
  * with the benchmark QUARANTINE by wave —
  * written, never silently dropped: a leaked benchmark document is an
  * audit artifact — and clean documents admit. The per-document
  * report (n_shingles, n_hits, contam_frac) lands beside both.
  *
  * Batch-streaming equality holds by construction: admission depends
  * only on the FROZEN benchmark state, never on other corpus
  * documents, so any wave slicing (and any replay) produces exactly
  * [[Contamination.overlapReportFromShingles]] over the union — the
  * q295 gate asserts this against the batch operator.
  *
  * State layout under `statePath` (batch_id-keyed overwrites, the
  * [[StreamState]] replay-safe discipline):
  * `bench_shingles/` (seeded once), `admitted/batch_id=N/`,
  * `quarantined/batch_id=N/`, `reports/batch_id=N/`. */
object StreamContamination {

  /** Persist the benchmark's distinct shingle set — run once (or on
    * benchmark refresh; overwrite is atomic-enough under the parquet
    * commit protocol, and in-flight batches read a consistent copy). */
  def seedBenchmark(spark: SparkSession, bench: DataFrame,
                    benchTextCol: String, statePath: String): Unit =
    Contamination.benchShingleSet(bench, benchTextCol, 8)
      .withColumnRenamed("_g_sh", "shingle")
      .write.mode("overwrite").parquet(s"$statePath/bench_shingles")

  /** Runs the AvailableNow drain; returns the number of micro-batches
    * processed (one-wave-per-batch oracles assert on it). */
  def runAvailableNow(spark: SparkSession, sourcePath: String,
                      schema: StructType, idCol: String, textCol: String,
                      statePath: String, checkpointPath: String): Long =
    StreamState.drain(StreamWaves.reader(spark, schema, sourcePath),
        checkpointPath)(_.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val session = batch.sparkSession
        val bench = session.read.parquet(s"$statePath/bench_shingles")
        val report = Contamination.overlapReportFromShingles(
            batch, idCol, textCol, bench, "shingle", 8)
          .localCheckpoint() // probe once: report + both splits read it
        val dirty = report.filter(col("contam_frac") > 0.0)
          .select(col(idCol))
        val cols = batch.columns.map(col).toSeq
        StreamState.writeBatch(batch.join(dirty, Seq(idCol), "left_anti").select(cols: _*),
          s"$statePath/admitted", batchId)
        StreamState.writeBatch(batch.join(dirty, Seq(idCol), "left_semi").select(cols: _*),
          s"$statePath/quarantined", batchId)
        StreamState.writeBatch(report, s"$statePath/reports", batchId)
    })
}
